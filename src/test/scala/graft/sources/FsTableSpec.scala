package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The FILE-BACKED connector (`fs_*` / `fsd_*`): the MemTable protocol
  * with parquet files as the commit currency — two-phase file commits,
  * abort-leaves-no-files, merge-on-read deltas, CDF, schema evolution
  * with field ids (incl. type WIDENING and DROP), timestamp travel under
  * the injectable commit clock, and byte-budget feed admission. */
class FsTableSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def cat(): Unit =
    GraftCatalog.register(spark)
  private def drop(t: String): Unit = spark.sql(s"DROP TABLE IF EXISTS graft.$t")

  /** Every parquet file under the table dir (data files only). */
  private def dataFiles(t: String): Set[String] = {
    val d = FsStore.tableDir(t).resolve("data")
    if (!Files.isDirectory(d)) Set.empty
    else {
      import scala.jdk.CollectionConverters._
      val st = Files.list(d)
      try st.iterator().asScala.map(_.toString).toSet finally st.close()
    }
  }

  test("fs: two-phase parquet commit — create/append round-trip, files on disk, no rows on the driver") {
    cat(); drop("fs_rt")
    val src = (0L until 1000L).map(k => (k, k * 3 % 97, s"s$k")).toDF("k", "v", "tag")
    src.filter($"k" % 2 === 0).writeTo("graft.fs_rt").create()
    src.filter($"k" % 2 === 1).writeTo("graft.fs_rt").append()
    val back = spark.table("graft.fs_rt")
    assert(back.count() == 1000)
    assert(back.agg(sum("k"), sum("v")).head() ==
      src.agg(sum("k"), sum("v")).head())
    // string column round-trips through parquet binary
    assert(back.filter($"k" === 123L).head().getString(2) == "s123")
    // the snapshot is FILES, referenced by the manifest
    val ver = FsStore.current("fs_rt")
    assert(ver.files.nonEmpty && ver.files.forall(f => Files.exists(Paths.get(f.path))))
    assert(ver.rowCount == 1000 && ver.files.map(_.rows).sum == 1000)
    // every on-disk file is referenced (no orphans from these commits)
    assert(dataFiles("fs_rt") == ver.files.map(_.path).toSet)
    drop("fs_rt")
  }

  test("fs: a failed write job leaves NO files and the committed version intact") {
    cat(); drop("fs_ab")
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ab").create()
    val before = dataFiles("fs_ab")
    val verBefore = FsStore.currentVersion("fs_ab")
    val boom = udf((k: Long) => {
      if (k == 77L) throw new RuntimeException("planted failure"); k
    })
    intercept[Exception] {
      (0L until 100L).map(k => (k, k)).toDF("k", "v")
        .repartition(4)
        .select(boom($"k").as("k"), $"v")
        .writeTo("graft.fs_ab").append()
    }
    assert(FsStore.currentVersion("fs_ab") == verBefore,
      "a failed job must not install a version")
    assert(dataFiles("fs_ab") == before,
      "task/driver abort must delete every file the failed job wrote")
    assert(spark.table("graft.fs_ab").count() == 100)
    drop("fs_ab")
  }

  test("fs: abort stress — repeated planted-failure appends leave zero orphans under parallel load") {
    cat(); drop("fs_abst"); drop("fs_abst2")
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_abst").create()
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_abst2").create()
    val before = dataFiles("fs_abst")
    // the round-10 escape was a RACE only the full suite reproduced: an
    // attempt finishing its file while the job was already failing. Keep
    // a sibling table under concurrent append load so the scheduler
    // interleaves this table's dying tasks with real work, and plant the
    // failure at a DIFFERENT row each round so the surviving attempts'
    // progress at abort time varies.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val load = Future {
      (1 to 6).foreach { i =>
        ((i * 1000L) until (i * 1000L + 200L)).map(k => (k, k)).toDF("k", "v")
          .repartition(8).writeTo("graft.fs_abst2").append()
      }
    }
    (1 to 6).foreach { i =>
      val boom = udf((k: Long) => {
        if (k == i * 29L) throw new RuntimeException(s"planted failure $i"); k
      })
      intercept[Exception] {
        (0L until 200L).map(k => (k, k)).toDF("k", "v").repartition(8)
          .select(boom($"k").as("k"), $"v").writeTo("graft.fs_abst").append()
      }
      assert(dataFiles("fs_abst") == before,
        s"job-stamp sweep must leave zero orphans (planted failure $i)")
    }
    Await.result(load, scala.concurrent.duration.Duration(180, "s"))
    assert(spark.table("graft.fs_abst").count() == 100)
    assert(spark.table("graft.fs_abst2").count() == 100 + 6 * 200)
    drop("fs_abst"); drop("fs_abst2")
  }

  test("fs: copy-on-write UPDATE and metadata-free DELETE rewrite through new files") {
    cat(); drop("fs_cow")
    (0L until 500L).map(k => (k, k % 10)).toDF("k", "v").writeTo("graft.fs_cow").create()
    spark.sql("UPDATE graft.fs_cow SET v = v + 100 WHERE k % 5 = 0")
    spark.sql("DELETE FROM graft.fs_cow WHERE k % 7 = 0")
    val got = spark.table("graft.fs_cow")
      .agg(count(lit(1)).as("n"), sum("v").as("sv")).head()
    val want = (0L until 500L).map(k => (k, k % 10 + (if (k % 5 == 0) 100 else 0)))
      .filter(_._1 % 7 != 0)
    assert(got.getLong(0) == want.size && got.getLong(1) == want.map(_._2).sum)
    drop("fs_cow")
  }

  test("fsd: merge-on-read delta MERGE — key files mask old data files, no rewrite") {
    cat(); drop("fsd_mor")
    (0L until 400L).map(k => (k, k % 13)).toDF("k", "v").writeTo("graft.fsd_mor").create()
    val baseFiles = FsStore.current("fsd_mor").files.map(_.path).toSet
    Seq.tabulate(100)(i => (i * 4L, 999L)) // 100 updates (k % 4 == 0)
      .toDF("k", "v").createOrReplaceTempView("fsd_mor_src")
    spark.sql("""MERGE INTO graft.fsd_mor t USING fsd_mor_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED BY SOURCE AND t.k % 9 = 1 THEN DELETE
                |""".stripMargin)
    val ver = FsStore.current("fsd_mor")
    assert(baseFiles.subsetOf(ver.files.map(_.path).toSet),
      "merge-on-read must keep the base files (no rewrite)")
    assert(ver.masks.nonEmpty, "the delta commit must install a key mask")
    val want = (0L until 400L).flatMap { k =>
      if (k % 4 == 0) Some((k, 999L))
      else if (k % 9 == 1) None
      else Some((k, k % 13))
    }
    val got = spark.table("graft.fsd_mor").as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == want.sortBy(_._1))
    // second delta stacks: update a previously-updated key, delete another
    Seq((0L, 1L)).toDF("k", "v").createOrReplaceTempView("fsd_mor_src2")
    spark.sql("""MERGE INTO graft.fsd_mor t USING fsd_mor_src2 s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |""".stripMargin)
    assert(spark.table("graft.fsd_mor").filter($"k" === 0L).head().getLong(1) == 1L)
    drop("fsd_mor")
  }

  test("fsd: batch CDF reconstructs exact pre/post images at read, startingVersion slices") {
    cat(); drop("fsd_cdf")
    (0L until 300L).map(k => (k, k % 11)).toDF("k", "v").writeTo("graft.fsd_cdf").create()
    Seq.tabulate(30)(i => (i * 10L, -1L)).toDF("k", "v")
      .createOrReplaceTempView("fsd_cdf_src")
    spark.sql("""MERGE INTO graft.fsd_cdf t USING fsd_cdf_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v
                |WHEN NOT MATCHED BY SOURCE AND t.k % 8 = 3 THEN DELETE
                |""".stripMargin)
    val ch = spark.read.option("startingVersion", "2")
      .table("graft.fsd_cdf__changes")
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sk"), sum("v").as("sv"))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toList
    val updKeys = (0L until 300L).filter(_ % 10 == 0)
    val delKeys = (0L until 300L).filter(k => k % 10 != 0 && k % 8 == 3)
    assert(ch == List(
      ("delete", delKeys.size.toLong, delKeys.sum, delKeys.map(_ % 11).sum),
      ("update_postimage", updKeys.size.toLong, updKeys.sum, -updKeys.size.toLong),
      ("update_preimage", updKeys.size.toLong, updKeys.sum, updKeys.map(_ % 11).sum)))
    drop("fsd_cdf")
  }

  test("fs: schema evolution — ADD, WIDEN int->bigint, VERSION AS OF keeps the narrow type, DROP cannot resurrect") {
    cat(); drop("fs_evo")
    // int value column: the widening target
    (0 until 200).map(k => (k.toLong, k % 7)).toDF("k", "v").writeTo("graft.fs_evo").create()
    val vNarrow = FsStore.currentVersion("fs_evo")
    assert(spark.table("graft.fs_evo").schema("v").dataType ==
      org.apache.spark.sql.types.IntegerType)
    spark.sql("ALTER TABLE graft.fs_evo ALTER COLUMN v TYPE BIGINT")
    spark.sql("ALTER TABLE graft.fs_evo ADD COLUMN extra BIGINT")
    (200 until 300).map(k => (k.toLong, k.toLong * 2, k.toLong * 3))
      .toDF("k", "v", "extra").writeTo("graft.fs_evo").append()
    val head = spark.table("graft.fs_evo")
    assert(head.schema("v").dataType == org.apache.spark.sql.types.LongType)
    // old files upcast at read; new column NULL-padded on old rows
    val agg = head.agg(sum("v"), sum(coalesce($"extra", lit(-1L))), count(lit(1))).head()
    val wantV = (0 until 200).map(_ % 7).sum.toLong + (200 until 300).map(_ * 2L).sum
    val wantE = -200L + (200 until 300).map(_ * 3L).sum
    assert(agg.getLong(0) == wantV && agg.getLong(1) == wantE && agg.getLong(2) == 300)
    // pinned pre-ALTER version: NARROW type, old column set
    val pre = spark.sql(s"SELECT * FROM graft.fs_evo VERSION AS OF $vNarrow")
    assert(pre.schema("v").dataType == org.apache.spark.sql.types.IntegerType)
    assert(pre.schema.fieldNames.toSeq == Seq("k", "v"))
    assert(pre.count() == 200)
    // DROP + re-ADD same name: fresh field id, old values must NOT resurrect
    spark.sql("ALTER TABLE graft.fs_evo DROP COLUMN extra")
    assert(spark.table("graft.fs_evo").schema.fieldNames.toSeq == Seq("k", "v"))
    spark.sql("ALTER TABLE graft.fs_evo ADD COLUMN extra BIGINT")
    val re = spark.table("graft.fs_evo").agg(count($"extra")).head().getLong(0)
    assert(re == 0, s"re-added column must be NULL everywhere (got $re non-null)")
    // narrowing stays a loud refusal
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft.fs_evo ALTER COLUMN v TYPE INT")
    }
    // Spark's analyzer refuses the narrowing before the catalog even
    // sees it (NOT_SUPPORTED_CHANGE_COLUMN); the catalog's own guard
    // backs it for direct alterTable calls
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("widen"))
    intercept[Exception] {
      new GraftCatalog().alterTable(
        org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, "fs_evo"),
        org.apache.spark.sql.connector.catalog.TableChange.updateColumnType(
          Array("v"), org.apache.spark.sql.types.IntegerType))
    }
    drop("fs_evo")
  }

  test("TIMESTAMP AS OF under the injectable commit clock (fs and mem); clock-free tables refuse") {
    cat(); drop("fs_tt"); drop("mem_tt")
    try {
      GraftClock.set(1000000L, 1000L) // ms: v0=1000000, each commit +1s
      (0L until 50L).map(k => (k, 1L)).toDF("k", "v").writeTo("graft.fs_tt").create()
      (0L until 50L).map(k => (k, 2L)).toDF("k", "v").writeTo("graft.fs_tt").append()
      (0L until 50L).map(k => (k, 3L)).toDF("k", "v").writeTo("graft.fs_tt").append()
      // ts between v1 (create+write = versions 0,1) and v2
      val t1 = FsStore.versionAt("fs_tt", 1L).tsMs
      val pinned = spark.read.option("x", "y")
        .table("graft.fs_tt") // sanity: head has 150
      assert(pinned.count() == 150)
      val asOf = spark.sql(
        s"SELECT sum(v) AS sv FROM graft.fs_tt TIMESTAMP AS OF " +
          s"timestamp_millis(${t1 + 500L})").head().getLong(0)
      assert(asOf == 50L, "timestamp between v1 and v2 must pin v1")
      // mem flavor
      (0L until 20L).map(k => (k, 1L)).toDF("k", "v").writeTo("graft.mem_tt").create()
      (0L until 20L).map(k => (k, 2L)).toDF("k", "v").writeTo("graft.mem_tt").append()
      val m1 = MemStore.versionAt("mem_tt", 1L).tsMs
      val memAsOf = spark.sql(
        s"SELECT sum(v) AS sv FROM graft.mem_tt TIMESTAMP AS OF " +
          s"timestamp_millis(${m1 + 1L})").head().getLong(0)
      assert(memAsOf == 20L)
    } finally GraftClock.clear()
    // clock-free history → loud refusal
    drop("fs_ntt")
    (0L until 5L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ntt").create()
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.fs_ntt TIMESTAMP AS OF timestamp_millis(99)").collect()
    }
    assert(e.getMessage.contains("commit clock") || e.getMessage.contains("timestamps"))
    drop("fs_tt"); drop("mem_tt"); drop("fs_ntt")
  }

  test("fs change feed: plain feed paces one version per batch; byte budget splits a fat commit") {
    cat(); drop("fs_feed")
    // incompressible-ish payload (md5 hex per row) so the manifest's
    // parquet byte counts actually scale with rows
    val src = (0L until 3000L).map(k =>
      (k, Seq.tabulate(4)(i => graft.sources.FsTableSpec.md5Hex(s"$k-$i")).mkString))
      .toDF("k", "payload")
    src.filter($"k" < 1000L).writeTo("graft.fs_feed").create()
    src.filter($"k" >= 1000L && $"k" < 2000L).writeTo("graft.fs_feed").append()
    src.filter($"k" >= 2000L).writeTo("graft.fs_feed").append()
    // version-paced drain: 3 non-empty batches (one per commit)
    val q1 = spark.readStream.table("graft.fs_feed")
      .writeStream.format("memory").queryName("fs_feed_sink1")
      .trigger(Trigger.AvailableNow()).start()
    q1.awaitTermination()
    val b1 = q1.recentProgress.filter(_.numInputRows > 0)
    assert(b1.length >= 3, s"expected >=3 version-paced batches, got ${b1.length}")
    assert(spark.table("fs_feed_sink1").count() == 3000)
    // byte budget: each row is >128 bytes on disk, so 30k-byte batches
    // must split each 1000-row commit into several micro-batches
    val q2 = spark.readStream.option("maxBytesPerBatch", "30000")
      .table("graft.fs_feed")
      .writeStream.format("memory").queryName("fs_feed_sink2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val b2 = q2.recentProgress.filter(_.numInputRows > 0)
    assert(b2.length > b1.length,
      s"byte budget must split fat commits (${b2.length} vs ${b1.length})")
    assert(b2.forall(_.numInputRows <= 1000),
      "a batch must never span a version boundary")
    assert(spark.table("fs_feed_sink2").agg(sum("k")).head().getLong(0) ==
      (0L until 3000L).sum)
    spark.catalog.dropTempView("fs_feed_sink1")
    spark.catalog.dropTempView("fs_feed_sink2")
    drop("fs_feed")
  }

  test("mem change feed: composed row+byte budgets — wide rows split on bytes, totals intact") {
    cat(); drop("mem_fat")
    val fat = (0L until 400L).map(k => (k, "y" * 500)).toDF("k", "payload")
    fat.writeTo("graft.mem_fat").create() // one fat commit, ~500B+ rows
    val q = spark.readStream
      .option("maxRowsPerBatch", "1000")     // rows alone would take all 400
      .option("maxBytesPerBatch", "50000")   // ~100 rows per batch by bytes
      .table("graft.mem_fat")
      .writeStream.format("memory").queryName("mem_fat_sink")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3,
      s"byte budget must split the fat commit (got ${batches.length} batches)")
    assert(spark.table("mem_fat_sink").agg(count(lit(1)), sum("k")).head() ==
      org.apache.spark.sql.Row(400L, (0L until 400L).sum))
    spark.catalog.dropTempView("mem_fat_sink")
    drop("mem_fat")
  }

  test("fs: plain feed refuses non-append history; __changes serves it typed") {
    cat(); drop("fs_ref")
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ref").create()
    spark.sql("UPDATE graft.fs_ref SET v = 0 WHERE k % 2 = 0") // CoW: non-append
    val q = spark.readStream.table("graft.fs_ref")
      .writeStream.format("memory").queryName("fs_ref_sink")
      .trigger(Trigger.AvailableNow()).start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    assert(e.getMessage.contains("non-append") || Option(e.getCause).exists(
      _.getMessage.contains("non-append")))
    spark.catalog.dropTempView("fs_ref_sink")
    // typed feed serves the same history
    val typed = spark.read.table("graft.fs_ref__changes")
      .groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(typed("delete") == 100L) // CoW truncate-install: delete-all
    assert(typed("insert") == 200L) // create + reinsert
    drop("fs_ref")
  }

  test("fs: snapshot expiry + vacuum — expired versions error loudly, orphans reclaimed, shared files survive") {
    cat(); drop("fs_gc")
    (0L until 300L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_gc").create()
    (300L until 600L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_gc").append()
    (600L until 900L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_gc").append()
    // plant an orphan (a task that died between write and abort)
    val orphan = FsStore.newFilePath("fs_gc", "orphan")
    java.nio.file.Files.write(java.nio.file.Paths.get(orphan), Array[Byte](1, 2, 3))
    // vacuum BEFORE expiry: only the orphan goes (all files referenced)
    val (f1, b1) = FsStore.vacuum("fs_gc")
    assert(f1 == 1 && b1 == 3 && !java.nio.file.Files.exists(java.nio.file.Paths.get(orphan)))
    // expire all but the head 2 versions
    val dropped = FsStore.expireVersions("fs_gc", keep = 2)
    assert(dropped >= 1 && FsStore.oldestVersion("fs_gc") == 2L)
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft.fs_gc VERSION AS OF 0").collect()
    }
    assert(e.getMessage.contains("no version"))
    // data files shared into retained manifests MUST survive a vacuum
    val (f2, _) = FsStore.vacuum("fs_gc")
    assert(f2 == 0, "append-only history: every data file is still referenced")
    assert(spark.table("graft.fs_gc").count() == 900)
    // the CDF default start follows the oldest RETAINED version
    val ch = spark.read.table("graft.fs_gc__changes")
      .agg(min("_commit_version"), count(lit(1))).head()
    assert(ch.getLong(0) == 2L && ch.getLong(1) == 600L)
    drop("fs_gc")
  }

  test("fs: expiry + vacuum reclaim files once their last referencing version expires (CoW history)") {
    cat(); drop("fs_gc2")
    (0L until 200L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_gc2").create()
    val oldFiles = FsStore.current("fs_gc2").files.map(_.path)
    spark.sql("UPDATE graft.fs_gc2 SET v = 0 WHERE k >= 0") // v2 CoW: new files
    assert(oldFiles.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    // while v2 is RETAINED its change log still references the old files
    // as delete PRE-IMAGES (CDF must be able to serve them) — vacuum
    // keeps them even though the snapshot no longer lists them
    FsStore.expireVersions("fs_gc2", keep = 2) // keep v1(expired? no: v2+v1)
    val (f0, _) = FsStore.vacuum("fs_gc2")
    assert(oldFiles.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "delete pre-image refs in a retained change log must pin the files")
    // expire the CoW version's manifest too (one more commit, keep head only)
    (200L until 210L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_gc2").append() // v3
    FsStore.expireVersions("fs_gc2", keep = 1)
    val (f, _) = FsStore.vacuum("fs_gc2")
    assert(f >= oldFiles.size,
      "files referenced only by expired versions must be reclaimed")
    assert(oldFiles.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(spark.table("graft.fs_gc2").count() == 210)
    drop("fs_gc2")
  }

  test("fs: zone-map skipping and column pruning are plan-visible; masked prune strips the internal key") {
    cat(); drop("fs_zp")
    (0L until 800L).map(k => (k, k % 13, s"pay$k"))
      .toDF("k", "v", "pay")
      .repartitionByRange(8, $"k")
      .writeTo("graft.fs_zp").create()
    // 8 clustered files: a 100-wide key window overlaps exactly one
    val q = spark.table("graft.fs_zp").filter($"k" >= 200L && $"k" <= 299L)
      .agg(count(lit(1)), sum("v"))
    val got = q.head()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("keyRange=[200,299]"), s"bounds must reach the scan: $plan")
    assert(plan.contains("files=1/8"), s"zone maps must skip 7 of 8 files: $plan")
    assert(got.getLong(0) == 100 && got.getLong(1) == (200L to 299L).map(_ % 13).sum)
    // column pruning: only `v` read
    val p2 = spark.table("graft.fs_zp").groupBy(($"v" % 3).as("b"))
      .agg(count(lit(1)).as("n"))
    p2.collect()
    val plan2 = p2.queryExecution.executedPlan.toString
    assert(plan2.contains("pruned=v]") || plan2.contains("pruned=v,"),
      s"scan must shrink to the required column: $plan2")
    drop("fs_zp")
    // masked fsd table, key pruned out: mask filtering still applies
    // (the key rides along internally and is stripped on emit)
    drop("fsd_zp")
    (0L until 300L).map(k => (k, k % 7)).toDF("k", "v").writeTo("graft.fsd_zp").create()
    Seq.tabulate(30)(i => (i * 10L, 100L)).toDF("k", "v")
      .createOrReplaceTempView("fsd_zp_src")
    spark.sql("""MERGE INTO graft.fsd_zp t USING fsd_zp_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    val p3 = spark.table("graft.fsd_zp").agg(sum("v"), count(lit(1)))
    val r3 = p3.head()
    val want = (0L until 300L).map(k => if (k % 10 == 0) 100L else k % 7).sum
    assert(r3.getLong(0) == want && r3.getLong(1) == 300,
      "mask filtering must survive pruning the key column out")
    val plan3 = p3.queryExecution.executedPlan.toString
    assert(plan3.contains("pruned=v]"), s"prune must still apply: $plan3")
    drop("fsd_zp")
    // row-level rewrites must NOT prune/skip: an UPDATE with a key
    // predicate rewrites the whole group and loses no rows
    drop("fs_zp2")
    (0L until 400L).map(k => (k, 1L)).toDF("k", "v")
      .repartitionByRange(4, $"k").writeTo("graft.fs_zp2").create()
    spark.sql("UPDATE graft.fs_zp2 SET v = 2 WHERE k < 100")
    val r4 = spark.table("graft.fs_zp2").agg(count(lit(1)), sum("v")).head()
    assert(r4.getLong(0) == 400 && r4.getLong(1) == 100L * 2 + 300L,
      "a zone-map skip inside the CoW rewrite scan would have dropped rows")
    drop("fs_zp2")
  }

  test("fs streaming sink: manifest epoch high-water mark makes replays no-ops that delete their files") {
    cat(); drop("fs_ep")
    spark.sql("CREATE TABLE graft.fs_ep (k BIGINT)")
    import org.apache.spark.sql.catalyst.InternalRow
    def fileOf(tag: String, ks: Seq[Long]): FsStore.FileRef = {
      val schema = FsStore.schemaOf("fs_ep")
      val w = new FsFileWriter("fs_ep", tag, schema)
      ks.foreach(k => w.write(InternalRow(k)))
      w.finish().get
    }
    assert(FsStore.commitEpochAppend("fs_ep", "qA", 0L, Vector(fileOf("e0", 0L until 10L)), 0))
    assert(FsStore.commitEpochAppend("fs_ep", "qA", 1L, Vector(fileOf("e1", 10L until 20L)), 0))
    val verAfter = FsStore.currentVersion("fs_ep")
    // REPLAY of epoch 1 (a restart re-delivers the same id): no version,
    // and the caller deletes the re-written file (the sink's contract)
    val replayFile = fileOf("e1r", 10L until 20L)
    assert(!FsStore.commitEpochAppend("fs_ep", "qA", 1L, Vector(replayFile), 0))
    assert(FsStore.currentVersion("fs_ep") == verAfter, "replay must not install")
    // a SECOND query's epoch 0 must not collide with the first query's mark
    assert(FsStore.commitEpochAppend("fs_ep", "qB", 0L, Vector(fileOf("b0", 100L until 105L)), 0))
    assert(spark.table("graft.fs_ep").count() == 25)
    assert(spark.table("graft.fs_ep").agg(sum("k")).head().getLong(0) ==
      (0L until 20L).sum + (100L until 105L).sum)
    // the replayed file is an orphan; vacuum reclaims it
    val (fGone, _) = FsStore.vacuum("fs_ep")
    assert(fGone == 1)
    drop("fs_ep")
  }

  test("fs: NULL values round-trip through the parquet files (optional fields)") {
    cat(); drop("fs_null")
    val src = (0L until 200L).map { k =>
      (k,
        if (k % 3 == 0) None else Some(k * 2),
        if (k % 5 == 0) None else Some(s"s$k"))
    }.toDF("k", "v", "tag")
    src.writeTo("graft.fs_null").create()
    val back = spark.table("graft.fs_null")
    assert(back.filter($"v".isNull).count() == (0L until 200L).count(_ % 3 == 0))
    assert(back.filter($"tag".isNull).count() == (0L until 200L).count(_ % 5 == 0))
    assert(back.agg(sum("v")).head().getLong(0) ==
      (0L until 200L).filter(_ % 3 != 0).map(_ * 2).sum)
    assert(back.filter($"k" === 7L).head().getString(2) == "s7")
    assert(back.filter($"k" === 5L).head().isNullAt(2))
    drop("fs_null")
  }

  test("fs: concurrent commits — appends all serialize via optimistic retry; snapshot-dependent losers stay loud, orphans vacuumable") {
    cat(); drop("fs_race")
    spark.sql("CREATE TABLE graft.fs_race (k BIGINT)")
    import org.apache.spark.sql.catalyst.InternalRow
    val threads = 8
    val perThread = 20
    val schema = FsStore.schemaOf("fs_race")
    // pre-write every data file so the latched loop contends ONLY on the
    // manifest publish (read head → derive → atomic create-new link)
    val refs = (0 until threads).map { t =>
      (0 until perThread).map { i =>
        val w = new FsFileWriter("fs_race", s"t$t-$i", schema)
        w.write(InternalRow((t * 1000 + i).toLong))
        w.finish().get
      }
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        start.await()
        refs(t).foreach(ref => FsStore.commitAppend("fs_race", Vector(ref), 0))
      })
    }
    pool.foreach(_.start()); start.countDown(); pool.foreach(_.join())
    val head = FsStore.current("fs_race")
    val total = threads.toLong * perThread
    // the append conflict rule: blind appends are serializable, so the
    // optimistic retry must land EVERY commit as exactly one version —
    // no lost updates (the pre-create-new-link bug), no spurious losers
    assert(head.id == total,
      s"all $total concurrent appends must serialize (head ${head.id})")
    assert(head.rowCount == total)
    assert(spark.table("graft.fs_race").count() == total)
    assert(FsStore.vacuum("fs_race")._1 == 0, "no orphans when everyone wins")

    // snapshot-DEPENDENT commits keep the loud-loser contract: racing
    // truncate-installs were each computed from a snapshot, so a retry
    // would lose updates — exactly one version per publish id, losers
    // surface, their files become vacuumable orphans
    val successes = new java.util.concurrent.atomic.AtomicLong
    val failures = new java.util.concurrent.atomic.AtomicLong
    val headBefore = FsStore.currentVersion("fs_race")
    val start2 = new java.util.concurrent.CountDownLatch(1)
    val truncRefs = (0 until threads).map { t =>
      val w = new FsFileWriter("fs_race", s"tr$t", schema)
      w.write(InternalRow((9000 + t).toLong))
      w.finish().get
    }
    val pool2 = (0 until threads).map { t =>
      new Thread(() => {
        start2.await()
        try {
          FsStore.commitTruncate("fs_race", Vector(truncRefs(t)), 0)
          successes.incrementAndGet(): Unit
        } catch {
          case e: IllegalStateException if e.getMessage.contains("concurrent commit") =>
            failures.incrementAndGet(): Unit
        }
      })
    }
    pool2.foreach(_.start()); start2.countDown(); pool2.foreach(_.join())
    assert(successes.get() + failures.get() == threads.toLong)
    assert(FsStore.currentVersion("fs_race") == headBefore + successes.get(),
      "every successful truncate must be exactly one version")
    assert(spark.table("graft.fs_race").count() == 1,
      "the table holds exactly the last winning truncate")
    val (reclaimed, _) = FsStore.vacuum("fs_race")
    assert(reclaimed == failures.get(),
      s"vacuum must reclaim exactly the losers' files ($reclaimed vs ${failures.get()})")
    drop("fs_race")
  }

  test("fs: high-contention commit storm — 16 threads x 50 appends, zero lost, zero uncaught") {
    // Regression pin for the round-11 red test: FsStore.writeManifest used
    // to name tmp manifests with bare System.nanoTime(), so two committers
    // racing one version id could DRAW THE SAME TICK, share a tmp path,
    // and the loser died with NoSuchFileException (not the retryable
    // concurrent-commit signal) — 4 of 160 appends silently never landed
    // because the exception killed the committer thread. This storm is
    // sized so same-id contention is the COMMON case (16 threads hammering
    // one table) and asserts BOTH head == total and that no thread died
    // with any uncaught throwable.
    cat(); drop("fs_storm")
    spark.sql("CREATE TABLE graft.fs_storm (k BIGINT)")
    import org.apache.spark.sql.catalyst.InternalRow
    val threads = 16
    val perThread = 50
    val schema = FsStore.schemaOf("fs_storm")
    val refs = (0 until threads).map { t =>
      (0 until perThread).map { i =>
        val w = new FsFileWriter("fs_storm", s"s$t-$i", schema)
        w.write(InternalRow((t * 10000 + i).toLong))
        w.finish().get
      }
    }
    val uncaught = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = (0 until threads).map { t =>
      val th = new Thread(() => {
        start.await()
        refs(t).foreach(ref => FsStore.commitAppend("fs_storm", Vector(ref), 0))
      })
      th.setUncaughtExceptionHandler((_, e) => { uncaught.add(e); () })
      th
    }
    pool.foreach(_.start()); start.countDown(); pool.foreach(_.join())
    val firstUncaught = Option(uncaught.peek())
      .map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse("-")
    assert(uncaught.isEmpty,
      s"committer threads must never die uncaught (got ${uncaught.size}, " +
        s"first: $firstUncaught)")
    val head = FsStore.current("fs_storm")
    val total = threads.toLong * perThread
    assert(head.id == total,
      s"all $total storm appends must serialize (head ${head.id})")
    assert(head.rowCount == total)
    assert(spark.table("graft.fs_storm").count() == total)
    assert(FsStore.vacuum("fs_storm")._1 == 0, "no orphans when everyone wins")
    drop("fs_storm")
  }

  // (companion helpers at the bottom of the file)

  test("fs: TRUNCATE + catalog listing + unsupported column type refused at create") {
    cat(); drop("fs_misc")
    (0L until 10L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_misc").create()
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("fs_misc"))
    spark.sql("TRUNCATE TABLE graft.fs_misc")
    assert(spark.table("graft.fs_misc").count() == 0)
    // arrays OF structs stay refused (structs and atomic maps are
    // first-class since r12 — see the nested-struct spec)
    val e = intercept[Exception] {
      (0L until 3L).map(k => (k, Seq((k, s"s$k"))))
        .toDF("k", "a").writeTo("graft.fs_bad").create()
    }
    assert(e.getMessage.contains("unsupported column type"))
    // a struct/map FIRST column is refused (it is the mask key)
    val e2 = intercept[Exception] {
      Seq((Map("a" -> 1L), 1L)).toDF("m", "k").writeTo("graft.fs_bad").create()
    }
    assert(e2.getMessage.contains("first"))
    drop("fs_misc")
  }

  test("fs: nested struct/map columns — leaf zone maps prune, nested evolution by field id, row ≡ columnar, masked MoR") {
    cat(); drop("fs_nest")
    val src = spark.range(0, 40000).select(
      $"id".as("k"),
      struct(
        ($"id" % 100).cast("int").as("x"),
        struct(($"id" % 7).as("d"),
          concat(lit("u"), $"id" % 50).as("tag")).as("sub"),
        when($"id" % 10 === 9, lit(null).cast("string"))
          .otherwise(concat(lit("n"), $"id" % 13)).as("nm")).as("props"),
      map(concat(lit("k"), $"id" % 3), $"id" % 5).as("attrs"),
      ($"id" % 4).as("v"))
    src.repartition(4).writeTo("graft.fs_nest").create()
    // every nested member carries its own field id, all distinct
    val sch = FsStore.schemaOf("fs_nest")
    val ids = FsStore.leafFields(sch).map { case (_, f) => FsStore.fieldId(f) }
    assert(ids.forall(_ >= 0) && ids.distinct.size == ids.size,
      s"nested leaves need unique field ids, got $ids")
    val got = spark.table("graft.fs_nest")
    // full-fidelity round-trip (maps are not set-op comparable — checked
    // via element_at aggregate below instead)
    assert(got.drop("attrs").exceptAll(src.drop("attrs")).isEmpty &&
      src.drop("attrs").exceptAll(got.drop("attrs")).isEmpty)
    def aggs(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum($"props.x").as("sx"), sum($"props.sub.d").as("sd"),
        count($"props.nm").as("nn"),
        sum(length($"props.sub.tag")).as("st"),
        sum(element_at($"attrs", "k1")).as("sm")).head()
    val probe = got.agg(sum($"props.x").as("sx"))
    probe.collect()
    assert(probe.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "nested snapshot scans must stay on the vectorized path")
    assert(aggs(got) == aggs(src))

    // LEAF ZONE MAPS: a file-clustered nested leaf prunes from the
    // manifest exactly like a flat column
    drop("fs_nestp")
    spark.range(0, 20000).select($"id".as("k"),
      struct(($"id" / 1000L).cast("long").as("bucket"),
        ($"id" % 9).as("y")).as("p"))
      .orderBy("k")
      .writeTo("graft.fs_nestp").create()
    val q = spark.table("graft.fs_nestp").filter($"p.bucket" === 3L)
    assert(q.count() == 1000L)
    q.collect()
    val Frac = """files=(\d+)/(\d+)""".r.unanchored
    q.queryExecution.executedPlan.toString match {
      case Frac(a, b) => assert(a.toInt < b.toInt,
        s"nested-leaf zone maps must prune files ($a/$b)")
      case other => fail(s"no files fraction in $other")
    }
    drop("fs_nestp")

    // NESTED EVOLUTION: rename + widen + add + drop below the top level,
    // all field-id-mapped so OLD files keep serving
    spark.sql("ALTER TABLE graft.fs_nest RENAME COLUMN props.x TO x2")
    spark.sql("ALTER TABLE graft.fs_nest ALTER COLUMN props.x2 TYPE BIGINT")
    spark.sql("ALTER TABLE graft.fs_nest ADD COLUMNS (props.z BIGINT)")
    val evo = spark.table("graft.fs_nest")
      .agg(sum($"props.x2").as("sx"), count($"props.z").as("nz")).head()
    assert(evo.getLong(0) == (0L until 40000L).map(_ % 100).sum,
      "renamed+widened nested leaf must serve old files by field id")
    assert(evo.getLong(1) == 0L, "added nested member null-fills old files")
    // appends under the evolved schema blend with the old era
    spark.range(40000, 41000).select($"id".as("k"),
      struct(($"id" % 100).as("x2"),
        struct(($"id" % 7).as("d"),
          concat(lit("u"), $"id" % 50).as("tag")).as("sub"),
        concat(lit("n"), $"id" % 13).as("nm"), ($"id" * 2).as("z")).as("props"),
      map(concat(lit("k"), $"id" % 3), $"id" % 5).as("attrs"),
      ($"id" % 4).as("v")).writeTo("graft.fs_nest").append()
    val blend = spark.table("graft.fs_nest")
      .agg(count(lit(1)), sum($"props.z"), sum($"props.x2")).head()
    assert(blend.getLong(0) == 41000L)
    assert(blend.getLong(1) == (40000L until 41000L).map(_ * 2).sum)
    assert(blend.getLong(2) ==
      (0L until 41000L).map(_ % 100).sum)
    // DROP + re-ADD a nested member: the fresh id must not resurrect
    spark.sql("ALTER TABLE graft.fs_nest DROP COLUMN props.nm")
    spark.sql("ALTER TABLE graft.fs_nest ADD COLUMNS (props.nm STRING)")
    assert(spark.table("graft.fs_nest").filter($"props.nm".isNotNull).isEmpty,
      "re-added nested member must read NULL from every old file")
    // row ≡ columnar across the whole evolved nested table
    val colAgg = spark.table("graft.fs_nest")
      .agg(sum($"props.x2"), sum($"props.sub.d"), sum($"props.z")).head()
    FsVectorized.forceRowReader = true
    try {
      val rowAgg = spark.table("graft.fs_nest")
        .agg(sum($"props.x2"), sum($"props.sub.d"), sum($"props.z")).head()
      assert(rowAgg == colAgg, "row and columnar nested reads must agree")
    } finally FsVectorized.forceRowReader = false
    drop("fs_nest")

    // MERGE-ON-READ masks over a struct column: batch-level selection
    // views select through getChild; row twin agrees
    drop("fsd_nest")
    spark.range(0, 5000).select($"id".as("k"),
      struct(($"id" % 11).as("a"), concat(lit("t"), $"id" % 4).as("t")).as("s"))
      .writeTo("graft.fsd_nest").create()
    spark.sql("DELETE FROM graft.fsd_nest WHERE k % 5 = 0")
    val expSum = (0L until 5000L).filter(_ % 5 != 0).map(_ % 11).sum
    val mq = spark.table("graft.fsd_nest")
      .agg(count(lit(1)).as("n"), sum($"s.a").as("sa"))
    mq.collect()
    assert(mq.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "masked struct scans must stay vectorized")
    assert(mq.head().getLong(0) == 4000L && mq.head().getLong(1) == expSum)
    FsVectorized.forceRowReader = true
    try assert(spark.table("graft.fsd_nest").agg(sum($"s.a")).head()
      .getLong(0) == expSum)
    finally FsVectorized.forceRowReader = false
    drop("fsd_nest")
  }

  test("fs: vectorized scan — ColumnarToRow in the plan, row ≡ columnar across pruning/evolution/count(*)/masks") {
    cat(); drop("fs_vec")
    val src = (0L until 50000L)
      .map(k => (k, (k % 1000).toInt, k * 0.5, s"name$k", k % 3 == 0))
      .toDF("k", "c", "x", "nm", "flag")
    src.repartition(4).writeTo("graft.fs_vec").create()

    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    // plain snapshot scan takes the vectorized path: ColumnarToRow feeds
    // whole-stage codegen, exactly like Spark's built-in parquet source
    val agg = spark.table("graft.fs_vec")
      .groupBy(($"c" % 10).as("b"))
      .agg(count(lit(1)).as("n"), sum("k").as("sk"), sum("x").as("sx"),
        sum(length($"nm")).as("sl"), sum(when($"flag", 1L).otherwise(0L)).as("sf"))
    assert(planOf(agg).contains("ColumnarToRow"),
      "plain fs snapshot scans must be columnar")
    // row ≡ columnar: same aggregate straight off the source frame
    val expect = src.groupBy(($"c" % 10).as("b"))
      .agg(count(lit(1)).as("n"), sum("k").as("sk"), sum("x").as("sx"),
        sum(length($"nm")).as("sl"), sum(when($"flag", 1L).otherwise(0L)).as("sf"))
    assert(agg.orderBy("b").collect().toSeq == expect.orderBy("b").collect().toSeq)

    // count(*): fully-pruned scan (empty schema) still columnar-correct
    assert(spark.table("graft.fs_vec").count() == 50000L)

    // evolution composes with vectorization: WIDEN int->bigint (old files
    // upcast in the vector fill), RENAME (file-era name resolves by field
    // id), ADD (older files null-fill), then an append under the new schema
    spark.sql("ALTER TABLE graft.fs_vec ALTER COLUMN c TYPE BIGINT")
    spark.sql("ALTER TABLE graft.fs_vec RENAME COLUMN nm TO label")
    spark.sql("ALTER TABLE graft.fs_vec ADD COLUMN extra BIGINT")
    (50000L until 60000L)
      .map(k => (k, k % 1000, k * 0.5, s"name$k", k % 3 == 0, k * 2))
      .toDF("k", "c", "x", "label", "flag", "extra")
      .writeTo("graft.fs_vec").append()
    val evo = spark.table("graft.fs_vec")
      .agg(count(lit(1)).as("n"), sum("c").as("sc"),
        sum(length($"label")).as("sl"),
        sum(coalesce($"extra", lit(-1L))).as("se"))
    assert(planOf(evo).contains("ColumnarToRow"),
      "evolved fs snapshots must stay columnar (per-file requested schemas)")
    val r = evo.head()
    assert(r.getLong(0) == 60000L)
    assert(r.getLong(1) == (0L until 60000L).map(_ % 1000).sum)
    assert(r.getLong(2) == (0L until 60000L).map(k => s"name$k".length.toLong).sum)
    assert(r.getLong(3) == -50000L + (50000L until 60000L).map(_ * 2).sum)

    // DROP then re-ADD same name: the fresh field id must NOT resurrect
    // old values through the vectorized name mapping
    spark.sql("ALTER TABLE graft.fs_vec DROP COLUMN x")
    spark.sql("ALTER TABLE graft.fs_vec ADD COLUMN x DOUBLE")
    val res = spark.table("graft.fs_vec").agg(
      count($"x").as("nonnull"), count(lit(1)).as("n")).head()
    assert(res.getLong(0) == 0L, "re-added column must read NULL from old files")
    assert(res.getLong(1) == 60000L)

    // DELTA masks apply BATCH-level in the columnar reader (a selection
    // view over the key vector): the merge-on-read scan stays vectorized
    drop("fs_vec")
    val tgt = (0L until 10000L).map(k => (k, k)).toDF("k", "v")
    tgt.writeTo("graft.fsd_vec").create()
    spark.sql("DELETE FROM graft.fsd_vec WHERE k >= 9000")
    spark.sql("UPDATE graft.fsd_vec SET v = v + 7 WHERE k % 10 = 0")
    val masked = spark.table("graft.fsd_vec")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    val mplan = planOf(masked)
    assert(mplan.contains("ColumnarToRow"),
      "masked delta scans ride the vectorized path (batch-level masks)")
    val mr = masked.head()
    val expSum = (0L until 9000L).map(k => k + (if (k % 10 == 0) 7L else 0L)).sum
    assert(mr.getLong(0) == expSum && mr.getLong(1) == 9000L)
    // row ≡ columnar across masks AND the key-strip path (key pruned out
    // of the projection, read internally for masking, dropped zero-copy)
    val colRows = spark.table("graft.fsd_vec").select("v").orderBy("v")
      .collect().toSeq
    FsVectorized.forceRowReader = true
    try {
      val rowQ = spark.table("graft.fsd_vec").select("v").orderBy("v")
      val rowRows = rowQ.collect().toSeq
      assert(!rowQ.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
      assert(rowRows == colRows, "masked row and columnar reads must agree")
    } finally FsVectorized.forceRowReader = false
    drop("fsd_vec")
  }

  test("fsd: string-keyed masks — compact Strings shape, exact under columnar AND row readers") {
    cat(); drop("fsd_skey")
    val src = (0L until 20000L).map(k => (f"uuid-$k%08d-suffix", k))
      .toDF("id", "v")
    src.writeTo("graft.fsd_skey").create()
    // MERGE + DELETE build string-keyed masks
    src.filter($"v" % 7 === 0).createOrReplaceTempView("skey_upd")
    spark.sql("""MERGE INTO graft.fsd_skey t USING skey_upd s ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET t.v = t.v + 1000000
                |""".stripMargin)
    spark.sql("DELETE FROM graft.fsd_skey WHERE v >= 19000 AND v < 1000000")
    FsKeyMask.resetPeak()
    val q = spark.table("graft.fsd_skey")
      .agg(sum("v").as("sv"), count(lit(1)).as("n"))
    q.collect()
    // columnar even under string-keyed masks
    assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "string-keyed masked scans ride the vectorized path")
    val expect = (0L until 20000L)
      .map(k => if (k % 7 == 0) k + 1000000L else k)
      .filter(v => !(v >= 19000L && v < 1000000L))
    assert(q.head().getLong(1) == expect.size.toLong)
    assert(q.head().getLong(0) == expect.sum)
    // memory class: blob + offsets + bitmap, NOT 48 B/key boxed entries
    // (~7.3k masked keys × 20-byte ids ≈ 175 KB vs ≈350 KB boxed)
    val peak = FsKeyMask.peakBytes
    assert(peak > 0, "a string mask must have been built")
    assert(peak < 20000L * 40L,
      s"string mask must be compact (peak $peak bytes)")
    // row reader agrees exactly (the String-vs-UTF8String probe paths)
    val colRows = spark.table("graft.fsd_skey").select("v").orderBy("v")
      .collect().toSeq
    FsVectorized.forceRowReader = true
    try {
      val rowRows = spark.table("graft.fsd_skey").select("v").orderBy("v")
        .collect().toSeq
      assert(rowRows == colRows)
    } finally FsVectorized.forceRowReader = false
    drop("fsd_skey")
  }

  test("fs: row-group scan splits — one skewed file fans out to many tasks, masks/evolution intact, row ≡ columnar") {
    cat(); drop("fsd_split")
    // manufacture ONE skewed multi-group file: tiny row groups + one
    // writer task (at production sizes: a 10 GB compaction output with
    // 128 MB groups)
    System.setProperty("graft.fs.rowGroupBytes", "65536")
    try (0L until 120000L).map(k => (k, k % 97, f"pad-$k%010d"))
      .toDF("k", "v", "pad").coalesce(1)
      .writeTo("graft.fsd_split").create()
    finally System.clearProperty("graft.fs.rowGroupBytes"): Unit
    val f0 = FsStore.current("fsd_split").files
    assert(f0.size == 1 && f0.head.groups.size > 4,
      s"expected one multi-group file, got ${f0.size} files / " +
        s"${f0.head.groups.size} groups")
    // without the split conf: one file = one task (the default 128 MB
    // target exceeds the file)
    assert(spark.table("graft.fsd_split").rdd.getNumPartitions == 1)
    spark.conf.set("spark.graft.fs.splitBytes", (128 * 1024).toString)
    try {
      val q = spark.table("graft.fsd_split")
      assert(q.rdd.getNumPartitions > 2,
        "a skewed file must fan out into row-group splits")
      // exactness across splits: no row lost or duplicated at the cuts
      val r = q.agg(count(lit(1)), sum($"k"), countDistinct($"k")).head()
      assert(r.getLong(0) == 120000L &&
        r.getLong(1) == (0L until 120000L).sum && r.getLong(2) == 120000L)
      // merge-on-read masks keep FILE semantics per split: every split
      // applies the same key masks to its own row subset
      spark.sql("UPDATE graft.fsd_split SET v = v + 1000 WHERE k % 10 = 0")
      spark.sql("DELETE FROM graft.fsd_split WHERE v = 13")
      val expect = (0L until 120000L)
        .map(k => (k, if (k % 10 == 0) k % 97 + 1000L else k % 97))
        .filter(_._2 != 13L)
      val m = spark.table("graft.fsd_split").agg(count(lit(1)), sum($"v")).head()
      assert(m.getLong(0) == expect.size.toLong &&
        m.getLong(1) == expect.map(_._2).sum)
      // schema evolution composes with splits (per-file requested schema)
      spark.sql("ALTER TABLE graft.fsd_split ADD COLUMN extra BIGINT")
      assert(spark.table("graft.fsd_split").filter($"extra".isNotNull).isEmpty)
      // row ≡ columnar over the same split plan
      val colRows = spark.table("graft.fsd_split").select("k", "v")
        .orderBy("k").collect().toSeq
      FsVectorized.forceRowReader = true
      try {
        val rowRows = spark.table("graft.fsd_split").select("k", "v")
          .orderBy("k").collect().toSeq
        assert(rowRows == colRows, "split row and columnar reads must agree")
      } finally FsVectorized.forceRowReader = false
    } finally spark.conf.unset("spark.graft.fs.splitBytes")
    drop("fsd_split")
  }

  test("fs: composite partition spec — days(ts) x identity(shard) tuple routing + conjunctive pruning; hours/months/years granularities") {
    cat(); drop("fs_comp")
    // 3 days x 4 shards (+ a NULL-shard sliver): the date+shard fact
    // layout the r11 verdict named as the second-most-common spec
    val t0us = 1709251200000000L // 2024-03-01 00:00:00 UTC in µs
    val src = spark.range(0, 1200).select(
      $"id".as("k"),
      expr(s"timestamp_micros($t0us + (id % 3) * 86400000000 + (id % 7) * 3600000000)").as("ts"),
      when($"id" % 120 === 119, lit(null).cast("long"))
        .otherwise($"id" % 4).as("shard"),
      ($"id" * 1.0).as("v"))
    src.writeTo("graft.fs_comp")
      .partitionedBy(org.apache.spark.sql.functions.days($"ts"), $"shard")
      .create()
    val head = FsStore.current("fs_comp")
    assert(FsStore.partSpecOf("fs_comp").map(_._1) ==
      Vector("days", "identity"), "spec order must be preserved")
    assert(head.files.forall(_.parts.size == 2),
      "every file records the full partition tuple")
    val d0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay
    assert(head.files.flatMap(_.parts(0)).toSet ==
      Set(d0, d0 + 1, d0 + 2), "day dimension routed correctly")
    assert(head.files.flatMap(_.parts(1)).toSet == (0L until 4L).toSet,
      "shard dimension routed correctly")
    assert(head.files.exists(f => f.parts(1).isEmpty),
      "NULL shard rows land in their own partition file")
    // conjunctive pruning: a one-day window AND one shard must open only
    // that tuple's files (the implicit IsNotNull(shard) null-count prune
    // additionally drops the NULL-shard files)
    val q = spark.table("graft.fs_comp")
      .filter($"ts" >= lit("2024-03-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-03 00:00:00").cast("timestamp") &&
        $"shard" === 2L)
    val got = q.collect()
    assert(got.nonEmpty && got.forall(_.getLong(2) == 2L))
    val plan = q.queryExecution.executedPlan.toString
    val Frac = """files=(\d+)/(\d+)""".r.unanchored
    // bounds are stored inclusive (strict `<` widens conservatively), so
    // the 2024-03-03 boundary day's shard-2 files may also survive
    val exact = head.files.count(f =>
      f.parts(0).contains(d0 + 1) && f.parts(1).contains(2L))
    val withBoundary = head.files.count(f =>
      f.parts(0).exists(p => p == d0 + 1 || p == d0 + 2) &&
        f.parts(1).contains(2L))
    plan match {
      case Frac(a, b) =>
        assert(a.toInt >= exact && a.toInt <= withBoundary,
          s"conjunctive prune must cut to the (day,shard) tuple's files " +
            s"($a/$b, expected $exact..$withBoundary): $plan")
        assert(a.toInt < b.toInt / 4,
          "the composite prune must cut BOTH dimensions")
      case _ => fail(s"no files fraction in $plan")
    }
    // single-dimension window still prunes on its own field
    val qDay = spark.table("graft.fs_comp")
      .filter($"ts" < lit("2024-03-02 00:00:00").cast("timestamp"))
    qDay.collect()
    qDay.queryExecution.executedPlan.toString match {
      case Frac(a, _) =>
        val lo = head.files.count(_.parts(0).contains(d0))
        val hiB = head.files.count(_.parts(0).exists(p => p <= d0 + 1))
        assert(a.toInt >= lo && a.toInt <= hiB)
      case _ => fail("no files fraction in day-only plan")
    }
    drop("fs_comp")

    // hour granularity: 48 hourly partitions, a 3-hour window keeps 3
    drop("fs_hr")
    spark.range(0, 960).select(
      $"id".as("k"),
      expr(s"timestamp_micros($t0us + (id % 48) * 3600000000)").as("ts"))
      .coalesce(2)
      .writeTo("graft.fs_hr")
      .partitionedBy(org.apache.spark.sql.functions.hours($"ts")).create()
    val hrHead = FsStore.current("fs_hr")
    val h0 = t0us / 3600000000L
    assert(hrHead.files.flatMap(_.parts(0)).toSet ==
      (h0 until h0 + 48).toSet)
    val qHr = spark.table("graft.fs_hr")
      .filter($"ts" >= lit("2024-03-01 10:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-01 13:00:00").cast("timestamp"))
    assert(qHr.count() == 960 / 48 * 3)
    qHr.queryExecution.executedPlan.toString match {
      case Frac(a, _) =>
        val lo = hrHead.files.count(
          _.parts(0).exists(p => p >= h0 + 10 && p <= h0 + 12))
        val hiB = hrHead.files.count(
          _.parts(0).exists(p => p >= h0 + 10 && p <= h0 + 13))
        assert(a.toInt >= lo && a.toInt <= hiB)
      case _ => fail("no files fraction in hour plan")
    }
    drop("fs_hr")

    // month granularity: Jan/Feb/Mar 2024, a February filter keeps 1
    drop("fs_mo")
    spark.range(0, 300).select(
      $"id".as("k"),
      expr("timestamp_micros(1704067200000000 + (id % 3) * 2678400000000)").as("ts"))
      .coalesce(2)
      .writeTo("graft.fs_mo")
      .partitionedBy(org.apache.spark.sql.functions.months($"ts")).create()
    val moHead = FsStore.current("fs_mo")
    val m0 = (2024 - 1970) * 12L // 2024-01 month index
    assert(moHead.files.flatMap(_.parts(0)).toSet == Set(m0, m0 + 1, m0 + 2))
    val qMo = spark.table("graft.fs_mo")
      .filter($"ts" >= lit("2024-02-01 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-01 00:00:00").cast("timestamp"))
    assert(qMo.count() == 100)
    qMo.queryExecution.executedPlan.toString match {
      case Frac(a, _) =>
        val lo = moHead.files.count(_.parts(0).contains(m0 + 1))
        val hiB = moHead.files.count(
          _.parts(0).exists(p => p == m0 + 1 || p == m0 + 2))
        assert(a.toInt >= lo && a.toInt <= hiB)
      case _ => fail("no files fraction in month plan")
    }
    drop("fs_mo")

    // years transform value encoding (the remaining granule): monotone
    // index relative to 1970, leap-safe via LocalDate
    assert(FsStore.partTransform("years", t0us) == 54L)
    assert(FsStore.partTransform("months", t0us) == (2024 - 1970) * 12L + 2)
  }

  test("fs: identity/days partitioning — per-value routing, NULL partition, pruning, rewrite keeps layout") {
    cat(); drop("fs_idp")
    // identity over a nullable group column: one file per value per
    // task, plus a dedicated (never value-pruned) NULL-partition file
    val src = (0L until 900L)
      .map(k => (k, if (k % 90 == 89) None else Some(k % 9), k * 2))
      .toDF("k", "g", "v")
    src.writeTo("graft.fs_idp").partitionedBy($"g").create()
    val head = FsStore.current("fs_idp")
    assert(FsStore.partSpecOf("fs_idp").exists(_._1 == "identity"))
    val (withPart, nullPart) = head.files.partition(_.part.nonEmpty)
    assert(withPart.flatMap(_.part).toSet == (0L until 9L).toSet,
      "one partition value per distinct g")
    assert(nullPart.nonEmpty && nullPart.map(_.rows).sum == 10L,
      "NULL g rows land in their own partition file")
    // value pruning: g = 3 opens only that partition (+ null files are
    // dropped by the implicit IsNotNull null-count prune)
    val q = spark.table("graft.fs_idp").filter($"g" === 3L)
    val got = q.collect()
    assert(got.forall(_.getLong(1) == 3L))
    assert(got.length == src.filter($"g" === 3).count().toInt)
    val plan = { q.collect(); q.queryExecution.executedPlan.toString }
    val Frac = """files=(\d+)/(\d+)""".r.unanchored
    plan match {
      case Frac(a, b) =>
        assert(a.toInt == withPart.count(_.part.contains(3L)),
          s"identity prune must open only g=3's files: $plan")
        assert(a.toInt < b.toInt)
      case _ => fail(s"no files fraction in $plan")
    }
    // a CoW UPDATE rewrites THROUGH the partition routing — layout kept
    spark.sql("UPDATE graft.fs_idp SET v = v + 1 WHERE k % 2 = 0")
    val head2 = FsStore.current("fs_idp")
    assert(head2.files.filter(_.part.nonEmpty).flatMap(_.part).toSet ==
      (0L until 9L).toSet, "row-level rewrite must preserve the layout")
    assert(spark.table("graft.fs_idp").agg(sum("v")).head().getLong(0) ==
      src.select(sum($"v" + when($"k" % 2 === 0, 1L).otherwise(0L)))
        .head().getLong(0))
    // compaction bins never cross partition values
    val (_, _, rewritten) = FsMaintenance.compact(spark, "fs_idp", 1L << 20)
    if (rewritten > 0) {
      val head3 = FsStore.current("fs_idp")
      assert(head3.files.filter(_.part.nonEmpty).flatMap(_.part).toSet ==
        (0L until 9L).toSet, "compaction must preserve partition values")
    }
    // the partition column cannot be dropped; z-order/rebucket refuse
    intercept[Exception] { spark.sql("ALTER TABLE graft.fs_idp DROP COLUMN g") }
    intercept[Exception] { FsMaintenance.rebucket(spark, "fs_idp", 4) }
    drop("fs_idp")
  }

  test("fs: per-column zone maps — non-key conjuncts skip files, NaN/NULL stay sound, stats survive rename") {
    cat(); drop("fs_zm2")
    // cluster on the NON-key column v so first-column key ranges overlap
    // but v windows are disjoint per file
    val src = (0L until 40000L).map(k => (k % 1000, k, s"u${k % 7}"))
      .toDF("k", "v", "tag")
      .repartitionByRange(8, $"v")
    src.writeTo("graft.fs_zm2").create()
    val head = FsStore.current("fs_zm2")
    assert(head.files.forall(_.stats.size == 3), "every atomic column tracks stats")

    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    // range conjunct on v (not the key) must open a strict subset of files
    val q = spark.table("graft.fs_zm2").filter($"v".between(10000L, 12000L))
      .agg(count(lit(1)).as("n"), sum("k").as("sk"))
    val p = planOf(q)
    assert(p.contains("colBounds=1"), s"expected colBounds in scan description: $p")
    val filesRe = ", files=(\\d+)/(\\d+)".r
    val m = filesRe.findFirstMatchIn(p).getOrElse(fail(s"no files=k/n in: $p"))
    assert(m.group(1).toInt < m.group(2).toInt, s"expected skipping: $p")
    val r = q.head()
    assert(r.getLong(0) == 2001L)
    assert(r.getLong(1) == (10000L to 12000L).map(_ % 1000).sum)
    // string conjunct skips too when disjoint from every tag
    val sq = spark.table("graft.fs_zm2").filter($"tag" === "zzz")
    assert(sq.count() == 0L)
    val sp = sq.queryExecution.executedPlan.toString
    assert(filesRe.findFirstMatchIn(sp).exists(_.group(1).toInt == 0),
      s"an impossible string window must skip every file: $sp")

    // rename keeps skipping (stats ride field ids, filters the new name)
    spark.sql("ALTER TABLE graft.fs_zm2 RENAME COLUMN v TO val")
    val rq = spark.table("graft.fs_zm2").filter($"val" < 100L)
    rq.collect()
    val rp = rq.queryExecution.executedPlan.toString
    assert(filesRe.findFirstMatchIn(rp).exists(mm => mm.group(1).toInt < mm.group(2).toInt),
      s"stats must survive RENAME: $rp")
    assert(rq.count() == 100L)
    drop("fs_zm2")

    // NaN poisons the double stat — the file must NOT be skipped even
    // though its non-NaN min/max look disjoint from the window
    drop("fs_nan")
    Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.7)).toDF("k", "x")
      .coalesce(1).writeTo("graft.fs_nan").create()
    assert(FsStore.current("fs_nan").files.forall(!_.stats.contains(1)),
      "NaN must poison the double column's stat")
    assert(spark.table("graft.fs_nan").filter($"x" > 100.0).count() == 1L,
      "the NaN row compares greatest and must survive")
    drop("fs_nan")

    // all-NULL column: no stat, no skip, NULL-safe reads
    drop("fs_nul")
    (0L until 100L).map(k => (k, Option.empty[java.lang.Long])).toDF("k", "v")
      .coalesce(1).writeTo("graft.fs_nul").create()
    assert(FsStore.current("fs_nul").files.forall(!_.stats.contains(1)))
    assert(spark.table("graft.fs_nul").filter($"v" > 5L).count() == 0L)
    drop("fs_nul")
  }

  test("fs: warehouse types — decimal/timestamp/date/array round-trip on both read paths, timestamp zone maps skip") {
    cat(); drop("fs_types")
    val src = spark.range(0, 20000).select(
      $"id".as("k"),
      ($"id" % 1000).cast("decimal(12,2)").as("price"),
      (lit(38) * $"id" % 97).cast("decimal(24,3)").as("wide"),
      timestamp_micros(lit(1700000000000000L) + $"id" * 1000000L).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")), ($"id" % 365).cast("int")).as("d"),
      array($"id", $"id" * 2, $"id" * 3).as("xs"),
      transform(sequence(lit(1), lit(3)), e => concat(lit("t"), e + $"id" % 5)).as("tags"))
    src.repartitionByRange(4, $"ts").writeTo("graft.fs_types").create()

    def agg(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum("price").as("sp"), sum("wide").as("sw"),
      sum(unix_micros($"ts") - 1700000000000000L).as("st"),
      sum(datediff($"d", lit(java.sql.Date.valueOf("2024-01-01")))).as("sd"),
      sum(aggregate($"xs", lit(0L), (a, e) => a + e)).as("sx"),
      sum(size($"tags")).as("ng")).head()
    val viaFs = agg(spark.table("graft.fs_types"))
    val direct = agg(src)
    assert(viaFs == direct, s"fs=$viaFs direct=$direct")
    // columnar on the plain snapshot…
    val cdf = spark.table("graft.fs_types").agg(sum("price"))
    cdf.collect()
    assert(cdf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // …and the ROW path must agree: mask one row so the scan falls back
    drop("fsd_types")
    src.writeTo("graft.fsd_types").create()
    spark.sql("DELETE FROM graft.fsd_types WHERE k = 19999")
    val masked = agg(spark.table("graft.fsd_types"))
    val directMasked = agg(src.filter($"k" =!= 19999))
    assert(masked == directMasked, s"row-path=$masked direct=$directMasked")
    drop("fsd_types")

    // timestamp zone maps: a time-window conjunct opens a file subset
    val tq = spark.table("graft.fs_types").filter(
      $"ts" >= timestamp_micros(lit(1700000500000000L)) &&
      $"ts" < timestamp_micros(lit(1700001000000000L)))
    tq.collect()
    val tp = tq.queryExecution.executedPlan.toString
    val filesRe = ", files=(\\d+)/(\\d+)".r
    assert(filesRe.findFirstMatchIn(tp).exists(m => m.group(1).toInt < m.group(2).toInt),
      s"timestamp windows must skip: $tp")
    assert(tq.count() == 500L)
    drop("fs_types")
  }

  test("fs: bucket x value composition + truncate(w) — SPJ stays exchange-free while windows prune") {
    cat(); drop("fs_bv1"); drop("fs_bv2")
    // the fact layout at scale: bucket(4, k) for exchange-free joins,
    // days(ts) for time-window pruning — composed in one spec
    val t0us = 1709251200000000L // 2024-03-01 UTC µs
    def src(n: Long) = spark.range(0, n).select($"id".as("k"),
      expr(s"timestamp_micros($t0us + (id % 4) * 86400000000)").as("ts"),
      ($"id" % 7).as("v"))
    spark.sql("CREATE TABLE graft.fs_bv1 (k BIGINT, ts TIMESTAMP, v BIGINT)" +
      " PARTITIONED BY (bucket(4, k), days(ts))")
    spark.sql("CREATE TABLE graft.fs_bv2 (k BIGINT, ts TIMESTAMP, v BIGINT)" +
      " PARTITIONED BY (days(ts), bucket(4, k))") // order-insensitive
    src(8000).repartition(4).writeTo("graft.fs_bv1").append()
    src(8000).repartition(4).writeTo("graft.fs_bv2").append()
    val d0 = java.time.LocalDate.of(2024, 3, 1).toEpochDay
    Seq("fs_bv1", "fs_bv2").foreach { t =>
      val head = FsStore.current(t)
      assert(head.bucketN == 4)
      assert(head.files.forall(f => f.bucket >= 0 && f.bucket < 4 &&
        f.parts.size == 1 && f.parts(0).exists(p => p >= d0 && p < d0 + 4)),
        s"$t files must carry BOTH bucket and day tuple")
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft.fs_bv1")
        .join(spark.table("graft.fs_bv2"), "k")
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"composed spec must keep the key-grouped join exchange-free:\n$plan")
      assert(j.count() == 8000L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // the day window prunes within the composed layout
    val qd = spark.table("graft.fs_bv1")
      .filter($"ts" >= lit("2024-03-02 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-03-03 00:00:00").cast("timestamp"))
    assert(qd.count() == 2000L)
    val Frac = """files=(\d+)/(\d+)""".r.unanchored
    qd.queryExecution.executedPlan.toString match {
      case Frac(a, b) => assert(a.toInt < b.toInt,
        s"day window must prune composed files ($a/$b)")
      case other => fail(s"no files fraction in $other")
    }
    drop("fs_bv1"); drop("fs_bv2")

    // truncate(w): Iceberg's integer truncate — id-range chunks route to
    // their own files and an id window prunes
    drop("fs_tr")
    // truncate has no DataFrame-API transform function — the SQL parser's
    // generic ApplyTransform syntax carries it
    spark.sql("CREATE TABLE graft.fs_tr (k BIGINT, g BIGINT, val BIGINT)" +
      " PARTITIONED BY (truncate(1000, val))")
    spark.range(0, 9000).select($"id".as("k"), ($"id" % 5).as("g"),
      $"id".as("val"))
      .writeTo("graft.fs_tr").append()
    val trHead = FsStore.current("fs_tr")
    assert(trHead.files.flatMap(_.parts(0)).forall(_ % 1000 == 0),
      "truncate values are multiples of the width")
    val qt = spark.table("graft.fs_tr")
      .filter($"val" >= 3200L && $"val" < 3800L)
    assert(qt.count() == 600L)
    qt.queryExecution.executedPlan.toString match {
      case Frac(a, b) => assert(a.toInt < b.toInt,
        s"truncate window must prune ($a/$b)")
      case other => fail(s"no files fraction in $other")
    }
    drop("fs_tr")
  }

  test("fs: bucket partition spec — fs-fs join exchange-free, CoW keeps buckets, point lookups prune, fsd refused") {
    cat(); drop("fs_bk1"); drop("fs_bk2")
    spark.sql("CREATE TABLE graft.fs_bk1 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graft.fs_bk2 (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    (0L until 20000L).map(k => (k, k * 3 % 101)).toDF("k", "v")
      .repartition(6).writeTo("graft.fs_bk1").append()
    (0L until 20000L by 2).map(k => (k, k % 97)).toDF("k", "w")
      .repartition(6).writeTo("graft.fs_bk2").append()
    Seq("fs_bk1", "fs_bk2").foreach { t =>
      val ver = FsStore.current(t)
      assert(ver.bucketN == 4)
      assert(ver.files.forall(f => f.bucket >= 0 && f.bucket < 4))
      // the clustered write distribution means one file per bucket, not
      // one per (task × bucket)
      assert(ver.files.size <= 4, s"$t wrote ${ver.files.size} files")
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("graft.fs_bk1").join(spark.table("graft.fs_bk2"), "k")
      j.count() // materialize so AQE finalizes the plan
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"key-grouped fs layout must eliminate the join shuffle:\n$plan")
      // each bucket is ONE key-sorted file (the write's requiredOrdering,
      // recorded per file) — the REPORTED ordering must kill the
      // sort-merge join's per-partition sorts as well
      if (plan.contains("SortMergeJoin"))
        assert(!plan.contains("Sort "),
          s"recorded key-ASC files must satisfy the SMJ ordering:\n$plan")
      assert(FsStore.current("fs_bk1").files.forall(_.sorted),
        "clustered writes must record key-sorted files")
      assert(j.count() == 10000L)
      val r = j.filter($"k" === 4242L).head()
      assert(r.getLong(1) == 4242L * 3 % 101 && r.getLong(2) == 4242L % 97)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // CoW UPDATE rewrites into bucketed files again
    spark.sql("UPDATE graft.fs_bk1 SET v = v + 1000 WHERE k % 7 = 0")
    val afterCow = FsStore.current("fs_bk1")
    assert(afterCow.files.forall(f => f.bucket >= 0 && f.bucket < 4),
      "the CoW rewrite must keep the bucket layout")
    assert(spark.table("graft.fs_bk1").filter($"k" === 7L).head().getLong(1) ==
      7L * 3 % 101 + 1000)
    // exact-key lookup prunes other buckets' files from the manifest
    val pt = spark.table("graft.fs_bk1").filter($"k" === 4242L)
    pt.collect()
    val ptPlan = pt.queryExecution.executedPlan.toString
    val filesRe = ", files=(\\d+)/(\\d+)".r
    assert(filesRe.findFirstMatchIn(ptPlan).exists(m =>
      m.group(1).toInt < m.group(2).toInt),
      s"point lookup must bucket-prune the manifest: $ptPlan")
    // fsd (merge-on-read) refuses the spec: delta key files have no bucket
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.fsd_bk (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    }
    assert(e.getMessage.contains("merge-on-read"))
    drop("fs_bk1"); drop("fs_bk2")
  }

  test("fs: compaction — streaming-sink small files bin-pack, epochs/replay/time-travel intact, old files vacuum after expiry") {
    cat(); drop("fs_cpk")
    spark.sql("CREATE TABLE graft.fs_cpk (k BIGINT, v BIGINT)")
    import org.apache.spark.sql.catalyst.InternalRow
    def fileOf(tag: String, ks: Seq[Long]): FsStore.FileRef = {
      val w = new FsFileWriter("fs_cpk", tag, FsStore.schemaOf("fs_cpk"))
      ks.foreach(k => w.write(InternalRow(k, k * 2)))
      w.finish().get
    }
    // a streaming sink's accretion: 6 epochs, one small file each
    (0 until 6).foreach { e =>
      assert(FsStore.commitEpochAppend("fs_cpk", "qS", e.toLong,
        Vector(fileOf(s"e$e", (e * 100L) until ((e + 1) * 100L))), 0))
    }
    val pre = FsStore.current("fs_cpk")
    assert(pre.files.size == 6)
    val contentBefore = spark.table("graft.fs_cpk").orderBy("k").collect().toSeq

    val (before, after, bins) = FsMaintenance.compact(spark, "fs_cpk", 64L << 20)
    assert(before == 6 && after == 1 && bins == 1)
    val post = FsStore.current("fs_cpk")
    assert(post.rowCount == 600 && post.changes.isEmpty,
      "compaction must not be a logical change")
    // contents hash-identical pre/post
    assert(spark.table("graft.fs_cpk").orderBy("k").collect().toSeq == contentBefore)
    // time travel to the pre-compaction version still serves old files
    assert(spark.sql(s"SELECT * FROM graft.fs_cpk VERSION AS OF ${pre.id}")
      .orderBy("k").collect().toSeq == contentBefore)
    // epoch high-water marks rode along: a REPLAY of epoch 5 stays a no-op
    val replay = fileOf("e5r", 500L until 600L)
    assert(!FsStore.commitEpochAppend("fs_cpk", "qS", 5L, Vector(replay), 0))
    new java.io.File(replay.path).delete()
    // ...and a NEW epoch still commits
    assert(FsStore.commitEpochAppend("fs_cpk", "qS", 6L,
      Vector(fileOf("e6", 600L until 650L)), 0))
    assert(spark.table("graft.fs_cpk").count() == 650)
    // expiry + vacuum reclaims the six compacted-away files
    FsStore.expireVersions("fs_cpk", keep = 2)
    val (gone, _) = FsStore.vacuum("fs_cpk")
    assert(gone == 6L, s"expected the 6 pre-compaction files reclaimed, got $gone")
    assert(spark.table("graft.fs_cpk").count() == 650)
    drop("fs_cpk")

    // masked fsd files are NOT eligible — compaction must not resurrect
    // masked rows
    drop("fsd_cpk")
    (0L until 1000L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).writeTo("graft.fsd_cpk").create()
    (1000L until 2000L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).writeTo("graft.fsd_cpk").append()
    spark.sql("DELETE FROM graft.fsd_cpk WHERE k % 5 = 1")
    val (b2, a2, bins2) = FsMaintenance.compact(spark, "fsd_cpk", 64L << 20)
    assert(bins2 == 0 && b2 == a2, "masked files must be ineligible")
    assert(spark.table("graft.fsd_cpk").count() == 1600)
    drop("fsd_cpk")
  }

  test("fs CDF: whole-change key-filtered slices plan file-parallel; budget-cut partial slices stay sequential") {
    cat(); drop("fsd_par")
    (0L until 8000L).map(k => (k, k % 13)).toDF("k", "v")
      .repartition(4).writeTo("graft.fsd_par").create() // 4 base files
    spark.sql("DELETE FROM graft.fsd_par WHERE k % 9 = 2") // v2: delta keys
    val v = FsStore.currentVersion("fsd_par")
    val ver = FsStore.versionAt("fsd_par", v)
    assert(ver.changes.nonEmpty && ver.changes.head.keys.nonEmpty)
    val total = ver.changes.map(_.rows).sum
    val feed = new FsChangeFeed("fsd_par", cdf = true, startingVersion = None,
      maxRowsPerBatch = Long.MaxValue, maxBytesPerBatch = Long.MaxValue)
    // a batch covering the WHOLE delete change: one task per base file —
    // pre-image reconstruction of a large delete no longer serializes
    val whole = feed.planInputPartitions(MemOffset(v, 0L), MemOffset(v, total))
    assert(whole.length >= 4,
      s"whole-change filtered slice must be file-parallel, got ${whole.length}")
    // a budget-cut PARTIAL slice of the same change: sequential fallback
    val partial = feed.planInputPartitions(MemOffset(v, 0L), MemOffset(v, 1L))
    assert(partial.length == 1,
      s"partial filtered slice must stay sequential, got ${partial.length}")
    // and the streamed drain (byte-budgeted so some batches ARE partial)
    // still reconstructs the exact typed change set
    val q = spark.readStream
      .option("maxBytesPerBatch", "4096")
      .table("graft.fsd_par__changes")
      .writeStream.outputMode("append").format("memory")
      .queryName("fsdpar_sink")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("fsdpar_sink")
      .groupBy("_change_type").agg(count(lit(1)).as("n"), sum("k").as("sk"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val delK = (0L until 8000L).filter(_ % 9 == 2)
    val insK = (0L until 8000L)
    assert(got == Set(
      ("insert", insK.size.toLong, insK.sum),
      ("delete", delK.size.toLong, delK.sum)))
    spark.sql("DROP VIEW IF EXISTS fsdpar_sink")
    drop("fsd_par")
  }

  test("fs CDF: append-only windows read COLUMNAR with constant metadata vectors; a masked window falls back") {
    cat(); drop("fsd_cdfc")
    val src = (0L until 500L).map(k => (k, k % 13)).toDF("k", "v")
    src.filter($"k" < 200L).writeTo("graft.fsd_cdfc").create() // v0+v1
    src.filter($"k" >= 200L).writeTo("graft.fsd_cdfc").append() // v2
    val feed = spark.read.option("startingVersion", "1")
      .table("graft.fsd_cdfc__changes")
      .groupBy("_change_type")
      .agg(count(lit(1)).as("n"), sum("k").as("s"),
        sum("_commit_version").as("sv"))
    val rows = feed.collect()
    assert(rows.length == 1 && rows.head.getString(0) == "insert" &&
      rows.head.getLong(1) == 500L &&
      rows.head.getLong(2) == (0L until 500L).sum)
    val plan = feed.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"append-only CDF window must decode vectorized: $plan")
    // one masked change in the window → whole scan falls back to rows,
    // results still exact (pre-image reconstruction needs per-row logic)
    spark.sql("DELETE FROM graft.fsd_cdfc WHERE k % 10 = 7") // v3: masks
    val feed2 = spark.read.option("startingVersion", "1")
      .table("graft.fsd_cdfc__changes")
      .groupBy("_change_type").agg(count(lit(1)).as("n"))
    val byOp = feed2.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byOp("insert") == 500L && byOp("delete") == 50L)
    assert(!feed2.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "a masked window must keep the row reader")
    drop("fsd_cdfc")
  }

  test("fs: aggregate pushdown answers COUNT/MIN/MAX from the manifest; grouping/SUM/filters/statless/masks decline") {
    cat(); drop("fs_agp2")
    val src = (0L until 30000L)
      .map(k => (k, k * 7 % 1009, s"t${k % 97}", Option.empty[java.lang.Long]))
      .toDF("k", "v", "tag", "nul")
    src.filter($"k" < 15000).repartition(3).writeTo("graft.fs_agp2").create()
    src.filter($"k" >= 15000).repartition(3).writeTo("graft.fs_agp2").append()

    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val agg = spark.table("graft.fs_agp2").agg(
      count(lit(1)).as("n"), min("k").as("mk"), max("k").as("xk"),
      min("tag").as("mt"), max("tag").as("xt"))
    val p = planOf(agg)
    assert(p.contains("FsAggScan") && p.contains("files=0/"),
      s"ungrouped COUNT/MIN/MAX must be answered manifest-only:\n$p")
    val r = agg.head()
    assert(r.getLong(0) == 30000L && r.getLong(1) == 0L && r.getLong(2) == 29999L)
    assert(r.getString(3) == "t0" && r.getString(4) == "t96") // UTF8 order

    def declines(df: org.apache.spark.sql.DataFrame): Unit = {
      val dp = planOf(df)
      assert(!dp.contains("FsAggScan"), s"must decline into the scan:\n$dp")
    }
    // grouping declines
    declines(spark.table("graft.fs_agp2").groupBy($"k" % 3).agg(min("k")))
    // SUM declines (no additive manifest stat)
    declines(spark.table("graft.fs_agp2").agg(sum("v")))
    // residual filters keep the normal scan path
    declines(spark.table("graft.fs_agp2").filter($"k" > 100).agg(min("k")))
    // a statless (all-NULL) column declines — and still answers NULL right
    val nulAgg = spark.table("graft.fs_agp2").agg(min("nul").as("m"))
    declines(nulAgg)
    assert(nulAgg.head().isNullAt(0))
    drop("fs_agp2")

    // delta masks decline: the count/min must reflect the masked rows
    drop("fsd_agp")
    (0L until 1000L).map(k => (k, k)).toDF("k", "v")
      .coalesce(1).writeTo("graft.fsd_agp").create()
    spark.sql("DELETE FROM graft.fsd_agp WHERE k < 10")
    val mAgg = spark.table("graft.fsd_agp").agg(
      count(lit(1)).as("n"), min("k").as("mk"))
    declines(mAgg)
    val mr = mAgg.head()
    assert(mr.getLong(0) == 990L && mr.getLong(1) == 10L)
    drop("fsd_agp")
  }

  test("fs: runtime filtering — a broadcast join's key set prunes fact files by bucket and zone map") {
    cat(); drop("fs_rtp")
    spark.sql("CREATE TABLE graft.fs_rtp (k BIGINT, v BIGINT) PARTITIONED BY (bucket(8, k))")
    (0L until 80000L).map(k => (k, k * 3 % 1009)).toDF("k", "v")
      .writeTo("graft.fs_rtp").append()
    assert(FsStore.current("fs_rtp").files.size == 8)
    // dim keys all ≡ 3 (mod 8): a modulo shape static zone maps cannot
    // use — only the RUNTIME key set can prune, and it must pick exactly
    // the bucket-3 file. DPP needs a selective predicate on a REAL
    // file-backed dim (a LocalRelation constant-folds away)
    val dimDir = Files.createTempDirectory("fs_rtp_dim").toString
    spark.range(0, 2000).selectExpr("id * 40 - (id * 40) % 8 + 3 AS k", "id % 10 AS tag")
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir).filter($"tag" === 3).select("k")
    val j = spark.table("graft.fs_rtp").join(dim, Seq("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"the fs scan must receive the runtime filter:\n$plan")
    assert(plan.contains("runtime=") && plan.contains("files=1/8"),
      s"the runtime key set must prune to the single bucket-3 file:\n$plan")
    val dimKeys = (0L until 2000L).filter(_ % 10 == 3)
      .map(id => id * 40 - (id * 40) % 8 + 3).distinct.filter(_ < 80000L)
    val r = j.head()
    assert(r.getLong(0) == dimKeys.size.toLong)
    assert(r.getLong(1) == dimKeys.map(_ * 3 % 1009).sum)
    graft.Tables.deleteRecursively(new java.io.File(dimDir))
    drop("fs_rtp")
  }

  test("fs: LIMIT-abandoned scans leak no parquet file handles (reader close propagates)") {
    cat(); drop("fs_fd")
    val src = (0L until 20000L).map(k => (k, k * 7 % 101)).toDF("k", "v")
      .repartition(4)
    src.writeTo("graft.fs_fd").create()
    def openDataFds(): Int = {
      import scala.jdk.CollectionConverters._
      val fdDir = Paths.get("/proc/self/fd")
      val st = Files.list(fdDir)
      try st.iterator().asScala.count { p =>
        try Files.readSymbolicLink(p).toString.contains("/fs_fd/")
        catch { case _: Exception => false }
      } finally st.close()
    }
    // LIMIT scans abandon the row iterator mid-file; before the close fix
    // each left one open parquet handle per touched partition
    (1 to 25).foreach { _ =>
      assert(spark.table("graft.fs_fd").limit(1).collect().length == 1)
    }
    assert(openDataFds() == 0,
      "LIMIT scans must not leak open fds into the table's data dir")
    drop("fs_fd")
  }

  test("fs: TIMESTAMP AS OF resolves retained versions after expiry; pre-history stays loud") {
    cat(); drop("fs_ttx")
    val t0 = 1700000000000L
    GraftClock.set(t0, 60000L)
    try {
      (0L until 50L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ttx").create() // v0,v1
      (50L until 80L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ttx").append() // v2
      (80L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_ttx").append() // v3
    } finally GraftClock.clear()
    FsStore.expireVersions("fs_ttx", keep = 2) // retained: v2, v3
    // the eager 0..head sweep used to throw "no version 0" here even for a
    // RETAINED target — the lazy head→oldest walk resolves it
    assert(FsStore.versionAsOfTimestamp("fs_ttx", t0 + 125000L) == 2L)
    assert(FsStore.versionAsOfTimestamp("fs_ttx", t0 + 999999L) == 3L)
    val e = intercept[IllegalArgumentException] {
      FsStore.versionAsOfTimestamp("fs_ttx", t0 + 60000L) // v1's stamp: expired
    }
    assert(e.getMessage.contains("retained"))
    drop("fs_ttx")
  }

  test("fs: a commit racing a concurrent ALTER fails loudly instead of mis-tagging files") {
    cat(); drop("fs_alt")
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_alt").create()
    val staleSchemaId = FsStore.current("fs_alt").schemaId
    spark.sql("ALTER TABLE graft.fs_alt ADD COLUMN extra BIGINT") // schema moves on
    import org.apache.spark.sql.catalyst.InternalRow
    val w = new FsFileWriter("fs_alt", "stale",
      FsStore.versionAt("fs_alt", 1L).schema)
    w.write(InternalRow(999L, 999L))
    val ref = w.finish().get
    val e = intercept[IllegalArgumentException] {
      FsStore.commitAppend("fs_alt", Vector(ref), staleSchemaId)
    }
    assert(e.getMessage.contains("schema evolved during the write"))
    // the refused commit's file is an orphan; vacuum reclaims it
    val (gone, _) = FsStore.vacuum("fs_alt")
    assert(gone == 1L)
    drop("fs_alt")
  }

  test("fs: vacuum's retention window spares young unreferenced files (in-flight write safety)") {
    cat(); drop("fs_vr")
    (0L until 10L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_vr").create()
    // simulate an in-flight two-phase write: a task file exists, its
    // manifest does not yet
    import org.apache.spark.sql.catalyst.InternalRow
    val w = new FsFileWriter("fs_vr", "inflight", FsStore.schemaOf("fs_vr"))
    w.write(InternalRow(42L, 42L))
    val ref = w.finish().get
    val (kept, _) = FsStore.vacuum("fs_vr", retainMs = 3600000L)
    assert(kept == 0L, "retention must spare files younger than the window")
    assert(Files.exists(Paths.get(ref.path)))
    val (gone, _) = FsStore.vacuum("fs_vr") // retainMs = 0: testbed reclaim-all
    assert(gone == 1L && !Files.exists(Paths.get(ref.path)))
    drop("fs_vr")
  }

  test("fs change feed: a post-ALTER append fails with the explicit restart error, not IndexOutOfBounds") {
    cat(); drop("fs_cfalt")
    (0L until 30L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_cfalt").create()
    val feed = new FsChangeFeed("fs_cfalt", cdf = false, startingVersion = None,
      maxRowsPerBatch = Long.MaxValue, maxBytesPerBatch = Long.MaxValue)
    // stream is "running": lineage pinned at construction. Now evolve and
    // append under the NEW schema
    spark.sql("ALTER TABLE graft.fs_cfalt ADD COLUMN extra BIGINT")
    spark.sql("INSERT INTO graft.fs_cfalt VALUES (100, 100, 7)")
    val head = FsStore.currentVersion("fs_cfalt")
    val e = intercept[IllegalStateException] {
      feed.planInputPartitions(MemOffset(head, 0L),
        MemOffset(head, 1L))
    }
    assert(e.getMessage.contains("restart the stream"))
    drop("fs_cfalt")
  }

  test("fs: bloom-filter skipping — point lookups prune scattered files, absent probes read nothing, NULL/overflow sound") {
    cat(); drop("fs_bl")
    import FsTableSpec.md5Hex
    // scattered high-cardinality string + long columns: every file's
    // zone map spans ~the whole value space, only blooms can prune
    val src = (0L until 4000L).map(k => (k, md5Hex(k.toString),
      k * 2654435761L % 1000003L)).toDF("k", "tag", "fp")
      .repartition(8)
    spark.sql("""CREATE TABLE graft.fs_bl (k BIGINT, tag STRING, fp BIGINT)
                |TBLPROPERTIES ('blooms'='tag,fp')""".stripMargin)
    src.writeTo("graft.fs_bl").append()
    val head = FsStore.current("fs_bl")
    assert(head.bloomIds.size == 2 && head.files.size == 8 &&
      head.files.forall(f => f.bloom.exists(p => Files.exists(Paths.get(p)))),
      "every data file must carry an on-disk bloom sidecar")
    // 1) string point lookup: ≤2 of 8 files opened (1 holds it, ≤1 fp)
    val probe = md5Hex("1234")
    val q1 = spark.table("graft.fs_bl").filter($"tag" === probe).select("k")
    assert(q1.collect().map(_.getLong(0)).toSeq == Seq(1234L))
    val plan1 = q1.queryExecution.executedPlan.toString
    assert(plan1.contains("bloomProbes=1"), s"probe must reach the scan: $plan1")
    val Files1 = """files=(\d+)/8""".r.unanchored
    plan1 match {
      case Files1(n) => assert(n.toInt <= 2, s"bloom must prune: $plan1")
      case _ => fail(s"no files=k/n in: $plan1")
    }
    // 2) absent probe: zero files opened, empty result
    val q2 = spark.table("graft.fs_bl").filter($"tag" === "not-a-real-tag")
    assert(q2.count() == 0)
    val plan2 = q2.queryExecution.executedPlan.toString
    plan2 match {
      case Files1(n) => assert(n.toInt <= 1, s"absent probe must prune ~all: $plan2")
      case _ => fail(s"no files=k/n in: $plan2")
    }
    // 3) long-column IN probe (second declared index)
    val fps = Seq(77L, 1234L).map(k => k * 2654435761L % 1000003L)
    val q3 = spark.table("graft.fs_bl").filter($"fp".isin(fps: _*)).select("k")
    assert(q3.collect().map(_.getLong(0)).sorted.toSeq == Seq(77L, 1234L))
    val plan3 = q3.queryExecution.executedPlan.toString
    assert(plan3.contains("bloomProbes=1"), s"IN probe must reach the scan: $plan3")
    plan3 match {
      case Files1(n) => assert(n.toInt <= 3, s"IN probe must prune: $plan3")
      case _ => fail(s"no files=k/n in: $plan3")
    }
    // 4) compaction rebuilds blooms on the packed files
    val (before, after, bins) = FsMaintenance.compact(spark, "fs_bl",
      targetBytes = 512L << 20)
    assert(bins >= 1 && after < before)
    val packed = FsStore.current("fs_bl")
    assert(packed.files.forall(_.bloom.isDefined),
      "compacted files must carry fresh blooms")
    assert(spark.table("graft.fs_bl").filter($"tag" === probe)
      .head().getLong(0) == 1234L)
    drop("fs_bl")

    // NULLs never enter the bloom; equality skipping stays sound and
    // IS NULL (not a bloom shape) still sees the rows
    drop("fs_bln")
    spark.sql("""CREATE TABLE graft.fs_bln (k BIGINT, tag STRING)
                |TBLPROPERTIES ('blooms'='tag')""".stripMargin)
    (0L until 100L).map(k => (k, if (k % 10 == 0) null else s"t$k"))
      .toDF("k", "tag").coalesce(1).writeTo("graft.fs_bln").append()
    assert(spark.table("graft.fs_bln").filter($"tag".isNull).count() == 10)
    assert(spark.table("graft.fs_bln").filter($"tag" === "t55")
      .head().getLong(0) == 55L)
    drop("fs_bln")

    // refusals: non-probe-able column types decline at CREATE
    drop("fs_blbad")
    val e = intercept[Exception] {
      spark.sql("""CREATE TABLE graft.fs_blbad (k BIGINT, x DOUBLE)
                  |TBLPROPERTIES ('blooms'='x')""".stripMargin)
    }
    assert(e.getMessage.contains("bloom index"), e.getMessage)
    drop("fs_blbad")
  }

  test("fsd: bloom skipping composes with merge-on-read masks; vacuum spares referenced sidecars") {
    cat(); drop("fsd_bl")
    import FsTableSpec.md5Hex
    spark.sql("""CREATE TABLE graft.fsd_bl (k BIGINT, tag STRING)
                |TBLPROPERTIES ('blooms'='tag')""".stripMargin)
    (0L until 500L).map(k => (k, md5Hex(k.toString))).toDF("k", "tag")
      .repartition(4).writeTo("graft.fsd_bl").append()
    // MoR UPDATE moves row 42 to a NEW tag living in a new data file
    Seq((42L, "moved")).toDF("k", "tag").createOrReplaceTempView("fsd_bl_src")
    spark.sql("""MERGE INTO graft.fsd_bl t USING fsd_bl_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.tag = s.tag""".stripMargin)
    // old tag: bloom OPENS the old file (bits can't unset) but the mask
    // drops the row — absence via mask, not via skip
    assert(spark.table("graft.fsd_bl")
      .filter($"tag" === md5Hex("42")).count() == 0)
    // new tag: found via the update file's own bloom
    assert(spark.table("graft.fsd_bl").filter($"tag" === "moved")
      .head().getLong(0) == 42L)
    // untouched needle still localized
    val q = spark.table("graft.fsd_bl").filter($"tag" === md5Hex("99"))
    assert(q.head().getLong(0) == 99L)
    // vacuum: every referenced sidecar survives (orphans only reclaimed)
    FsStore.vacuum("fsd_bl")
    val head = FsStore.current("fsd_bl")
    assert(head.files.forall(f =>
      f.bloom.forall(p => Files.exists(Paths.get(p)))),
      "vacuum must not reclaim referenced bloom sidecars")
    assert(spark.table("graft.fsd_bl").filter($"tag" === md5Hex("99"))
      .head().getLong(0) == 99L)
    drop("fsd_bl")
  }

  test("fs: z-order rewrite — a 2-D box opens ≤4 of 16 files, contents and time travel intact, refusals loud") {
    cat(); drop("fs_zo")
    // exact 64×64 grid scaled to the upper value range: a box aligned to
    // the curve's quarters lands in ONE contiguous z-slice
    val grid = (0L until 4096L).map { i =>
      (i, (i % 64L) * 1024L, (i / 64L) * 1024L)
    }.toDF("k", "x", "y").repartition(16)
    grid.writeTo("graft.fs_zo").create()
    val pre = FsStore.current("fs_zo")
    assert(pre.files.size == 16)
    // scattered: the box prunes nothing pre-rewrite
    val box = spark.table("graft.fs_zo")
      .filter($"x" >= 16384L && $"x" < 32768L && $"y" >= 16384L && $"y" < 32768L)
    val planPre = box.queryExecution.executedPlan.toString
    assert(planPre.contains("files=16/16"), s"scattered must not prune: $planPre")
    val wantKeys = (0L until 4096L).filter(i =>
      (i % 64) * 1024 >= 16384 && (i % 64) * 1024 < 32768 &&
      (i / 64) * 1024 >= 16384 && (i / 64) * 1024 < 32768)
    assert(box.count() == wantKeys.size)

    val (before, after) = FsMaintenance.zorder(spark, "fs_zo", Seq("x", "y"), 16)
    assert(before == 16 && after >= 4)
    val post = FsStore.current("fs_zo")
    assert(post.rowCount == 4096 && post.changes.isEmpty,
      "z-order must be a non-logical rewrite")
    // same box now opens ≤4 of 16 files: the box covers one quarter-
    // square of the curve, but the value→cell normalization (span is not
    // a power of two) shifts it off the exact quarter boundary, so it can
    // straddle up to 4 z-subsquares — still 4 files instead of 16
    val box2 = spark.table("graft.fs_zo")
      .filter($"x" >= 16384L && $"x" < 32768L && $"y" >= 16384L && $"y" < 32768L)
    val plan2 = box2.queryExecution.executedPlan.toString
    val FilesK = s"""files=(\\d+)/$after""".r.unanchored
    plan2 match {
      case FilesK(n) => assert(n.toInt <= 4, s"z-order must localize the box: $plan2")
      case _ => fail(s"no files=k/n in: $plan2")
    }
    assert(box2.select("k").collect().map(_.getLong(0)).sorted.toSeq == wantKeys,
      "the rewritten layout must serve exactly the same rows")
    // whole-table identity + time travel to the scattered layout
    assert(spark.table("graft.fs_zo").agg(sum("k"), sum("x"), sum("y")).head() ==
      spark.sql(s"SELECT * FROM graft.fs_zo VERSION AS OF ${pre.id}")
        .agg(sum("k"), sum("x"), sum("y")).head())
    // refusals: <2 columns, unknown column, non-integral column
    intercept[IllegalArgumentException] {
      FsMaintenance.zorder(spark, "fs_zo", Seq("x"), 4)
    }
    intercept[IllegalArgumentException] {
      FsMaintenance.zorder(spark, "fs_zo", Seq("x", "nope"), 4)
    }
    drop("fs_zo")
    // TIMESTAMP columns place on the curve in µs — the manifest's stat
    // space (a bare long cast would be SECONDS and degenerate the curve)
    drop("fs_zt")
    val tsGrid = (0L until 4096L).map { i =>
      (i, new java.sql.Timestamp((i % 64L) * 1024L), (i / 64L) * 1024L)
    }.toDF("k", "ts", "x").repartition(16)
    tsGrid.writeTo("graft.fs_zt").create()
    FsMaintenance.zorder(spark, "fs_zt", Seq("ts", "x"), 16)
    val tsBox = spark.table("graft.fs_zt")
      .filter($"ts" >= new java.sql.Timestamp(16384L) &&
        $"ts" < new java.sql.Timestamp(32768L) &&
        $"x" >= 16384L && $"x" < 32768L)
    tsBox.collect()
    val tsPlan = tsBox.queryExecution.executedPlan.toString
    val TsFiles = """files=(\d+)/(\d+)""".r.unanchored
    tsPlan match {
      case TsFiles(n, t) => assert(n.toInt * 2 <= t.toInt,
        s"µs-space z-order must localize the ts box: $tsPlan")
      case _ => fail(s"no files=k/n in: $tsPlan")
    }
    assert(tsBox.count() ==
      (0L until 4096L).count(i => (i % 64) * 1024 >= 16384 &&
        (i % 64) * 1024 < 32768 && (i / 64) * 1024 >= 16384 &&
        (i / 64) * 1024 < 32768))
    drop("fs_zt")
    // empty table: a no-op, not a crash
    drop("fs_ze")
    spark.sql("CREATE TABLE graft.fs_ze (a BIGINT, b BIGINT)")
    assert(FsMaintenance.zorder(spark, "fs_ze", Seq("a", "b"), 4) == ((0, 0)))
    drop("fs_ze")
    // masked tables refuse (the rewrite would escape the mask)
    drop("fsd_zo")
    (0L until 100L).map(k => (k, k, k)).toDF("k", "x", "y")
      .writeTo("graft.fsd_zo").create()
    spark.sql("DELETE FROM graft.fsd_zo WHERE k = 5")
    val e = intercept[IllegalArgumentException] {
      FsMaintenance.zorder(spark, "fsd_zo", Seq("x", "y"), 4)
    }
    assert(e.getMessage.contains("delta masks"), e.getMessage)
    drop("fsd_zo")
  }

  test("fs: WAP branches — staged commits isolated, fast-forward publish atomic, diverged main refuses, vacuum honors refs") {
    cat(); drop("fs_wb")
    FsStore.branchesOf("fs_wb").foreach(FsStore.drop)
    (0L until 400L).map(k => (k, k % 9)).toDF("k", "v")
      .writeTo("graft.fs_wb").create()
    val baseHead = FsStore.currentVersion("fs_wb")

    // stage two commits on a branch; main sees nothing
    val br = FsStore.createBranch("fs_wb", "audit")
    (400L until 500L).map(k => (k, k % 9)).toDF("k", "v")
      .writeTo(s"graft.$br").append()
    (500L until 600L).map(k => (k, k % 9)).toDF("k", "v")
      .writeTo(s"graft.$br").append()
    assert(spark.table(s"graft.$br").count() == 600)
    assert(FsStore.current("fs_wb").rowCount == 400 &&
      FsStore.currentVersion("fs_wb") == baseHead,
      "main must be untouched by staged branch commits")
    // branch time travel works off the copied history
    assert(spark.sql(s"SELECT * FROM graft.$br VERSION AS OF $baseHead")
      .count() == 400)

    // fast-forward publish: two versions land, branch dropped, data intact
    assert(FsStore.publishBranch("fs_wb", "audit") == 2)
    FsStore.dropBranch("fs_wb", "audit")
    assert(spark.table("graft.fs_wb").count() == 600)
    assert(spark.table("graft.fs_wb").agg(sum("k")).head().getLong(0) ==
      (0L until 600L).sum, "published rows must survive the branch drop")

    // a diverged main refuses the fast-forward
    val br2 = FsStore.createBranch("fs_wb", "late")
    (600L until 650L).map(k => (k, 0L)).toDF("k", "v")
      .writeTo(s"graft.$br2").append()
    (900L until 910L).map(k => (k, 0L)).toDF("k", "v")
      .writeTo("graft.fs_wb").append() // main moves on
    val e1 = intercept[IllegalArgumentException] {
      FsStore.publishBranch("fs_wb", "late")
    }
    assert(e1.getMessage.contains("diverged"), e1.getMessage)
    FsStore.dropBranch("fs_wb", "late")

    // refs retain files: a CoW rewrite + expiry past it orphans the old
    // files in MAIN's history (the extra append ages out even the CoW
    // version's change-log pre-image citation), so the live branch is
    // their ONLY remaining reference — vacuum must spare them
    val br3 = FsStore.createBranch("fs_wb", "keeper")
    val preRewrite = spark.table(s"graft.$br3").agg(sum("v")).head().getLong(0)
    spark.sql("UPDATE graft.fs_wb SET v = 99 WHERE k < 50")
    Seq((1000L, 0L)).toDF("k", "v").writeTo("graft.fs_wb").append()
    FsStore.expireVersions("fs_wb", keep = 1)
    assert(FsStore.vacuum("fs_wb")._1 == 0,
      "nothing reclaimable while the branch holds the last reference")
    assert(spark.table(s"graft.$br3").agg(sum("v")).head().getLong(0)
      == preRewrite, "vacuum must spare files a live branch references")
    // once the branch drops, the same vacuum reclaims them
    FsStore.dropBranch("fs_wb", "keeper")
    val (files, bytes) = FsStore.vacuum("fs_wb")
    assert(files > 0 && bytes > 0, "dropping the last ref frees the files")
    assert(spark.table("graft.fs_wb").count() == 611)

    // refusals: branch of a branch, duplicate branch, bad name
    intercept[IllegalArgumentException] {
      FsStore.createBranch(FsStore.branchTableName("fs_wb", "x"), "y")
    }
    FsStore.createBranch("fs_wb", "dup")
    intercept[IllegalStateException] { FsStore.createBranch("fs_wb", "dup") }
    FsStore.dropBranch("fs_wb", "dup")
    intercept[IllegalArgumentException] { FsStore.createBranch("fs_wb", "bad name") }
    // a leading '_' would collide with the __files/__history/__changes
    // relation suffixes in the catalog — refused at create
    intercept[IllegalArgumentException] { FsStore.createBranch("fs_wb", "_files") }
    drop("fs_wb")
  }

  test("fs: rebucket — partition evolution flips the spec, the evolved table joins exchange- and sort-free, time travel keeps the old layout") {
    cat(); drop("fs_pe1"); drop("fs_pe2")
    spark.sql("CREATE TABLE graft.fs_pe1 (k BIGINT, v BIGINT)") // unbucketed
    spark.sql("CREATE TABLE graft.fs_pe2 (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    (0L until 8000L).map(k => (k, k * 3 % 101)).toDF("k", "v")
      .repartition(6).writeTo("graft.fs_pe1").append()
    (0L until 8000L by 2).map(k => (k, k % 97)).toDF("k", "w")
      .repartition(6).writeTo("graft.fs_pe2").append()
    val pre = FsStore.current("fs_pe1")
    assert(pre.bucketN == 0)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // unevolved: the join must shuffle the unbucketed side
      val j0 = spark.table("graft.fs_pe1").join(spark.table("graft.fs_pe2"), "k")
      j0.count()
      assert(j0.queryExecution.executedPlan.toString.contains("Exchange"),
        "an unbucketed side must shuffle")
      val (before, after) = FsMaintenance.rebucket(spark, "fs_pe1", 4)
      val post = FsStore.current("fs_pe1")
      assert(post.bucketN == 4 && post.rowCount == 8000 && post.changes.isEmpty)
      assert(post.files.forall(f => f.bucket >= 0 && f.bucket < 4 && f.sorted),
        "rewritten files must be bucketed and key-sorted")
      // evolved: exchange-free AND sort-free
      val j1 = spark.table("graft.fs_pe1").join(spark.table("graft.fs_pe2"), "k")
      j1.count()
      val plan = j1.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"the evolved spec must eliminate the join shuffle:\n$plan")
      if (plan.contains("SortMergeJoin"))
        assert(!plan.contains("Sort "),
          s"sorted rewritten files must satisfy the SMJ ordering:\n$plan")
      assert(j1.count() == 4000L)
      val r = j1.filter($"k" === 4242L).head()
      assert(r.getLong(1) == 4242L * 3 % 101 && r.getLong(2) == 4242L % 97)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    // time travel keeps the pre-evolution layout and content
    val pinned = spark.sql(s"SELECT * FROM graft.fs_pe1 VERSION AS OF ${pre.id}")
    assert(pinned.count() == 8000)
    assert(spark.table("graft.fs_pe1").agg(sum("k"), sum("v")).head() ==
      pinned.agg(sum("k"), sum("v")).head())
    // dropping the spec again
    val (_, _) = FsMaintenance.rebucket(spark, "fs_pe1", 0)
    assert(FsStore.current("fs_pe1").bucketN == 0)
    assert(spark.table("graft.fs_pe1").count() == 8000)
    // refusals: same width, masks
    intercept[IllegalArgumentException] {
      FsMaintenance.rebucket(spark, "fs_pe1", 0)
    }
    drop("fs_pe1"); drop("fs_pe2")
    drop("fsd_pe")
    (0L until 100L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fsd_pe").create()
    spark.sql("DELETE FROM graft.fsd_pe WHERE k = 5")
    val e = intercept[IllegalArgumentException] {
      FsMaintenance.rebucket(spark, "fsd_pe", 4)
    }
    assert(e.getMessage.contains("delta masks"), e.getMessage)
    drop("fsd_pe")
  }

  test("fs: sorted compaction — bin-packed buckets k-way merge, the OPTIMIZEd table keeps its sort-free SPJ") {
    cat(); drop("fs_sc1"); drop("fs_sc2")
    spark.sql("CREATE TABLE graft.fs_sc1 (k BIGINT, v BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("CREATE TABLE graft.fs_sc2 (k BIGINT, w BIGINT) PARTITIONED BY (bucket(4, k))")
    // two appends whose keys INTERLEAVE inside every bucket (bucket b
    // gets keys ≡ b and ≡ b+4 mod 8): each bucket holds TWO sorted
    // files whose concatenation is NOT sorted — only a true merge
    // restores the order
    (0L until 6000L).filter(_ % 8 < 4).map(k => (k, k % 11)).toDF("k", "v")
      .writeTo("graft.fs_sc1").append()
    (0L until 6000L).filter(_ % 8 >= 4).map(k => (k, k % 11)).toDF("k", "v")
      .writeTo("graft.fs_sc1").append()
    (0L until 6000L).map(k => (k, k % 13)).toDF("k", "w")
      .writeTo("graft.fs_sc2").append()
    assert(FsStore.current("fs_sc1").files.forall(_.sorted))
    assert(FsStore.current("fs_sc1").files.size == 8)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j0 = spark.table("graft.fs_sc1").join(spark.table("graft.fs_sc2"), "k")
      j0.count()
      val plan0 = j0.queryExecution.executedPlan.toString
      assert(!plan0.contains("Exchange") && plan0.contains("Sort "),
        s"two sorted files per bucket concatenate unsorted — SMJ must sort:\n$plan0")
      // OPTIMIZE: the merge keeps each compacted bucket file key-ASC
      val (before, after, bins) = FsMaintenance.compact(spark, "fs_sc1",
        targetBytes = 512L << 20)
      assert(before == 8 && after == 4 && bins == 4)
      assert(FsStore.current("fs_sc1").files.forall(_.sorted),
        "k-way-merged compaction must preserve the sorted claim")
      val j1 = spark.table("graft.fs_sc1").join(spark.table("graft.fs_sc2"), "k")
      j1.count()
      val plan1 = j1.queryExecution.executedPlan.toString
      assert(!plan1.contains("Exchange"),
        s"compaction must keep the key-grouped layout:\n$plan1")
      if (plan1.contains("SortMergeJoin"))
        assert(!plan1.contains("Sort "),
          s"one merged sorted file per bucket must stay sort-free:\n$plan1")
      // merge correctness: contents identical, interleaving restored
      assert(j1.count() == 6000L)
      assert(spark.table("graft.fs_sc1").agg(sum("k"), sum("v")).head() ==
        spark.sql(s"SELECT * FROM graft.fs_sc1 VERSION AS OF 2")
          .agg(sum("k"), sum("v")).head())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.unset("spark.sql.sources.v2.bucketing.enabled")
    }
    drop("fs_sc1"); drop("fs_sc2")
  }

  test("fs: metadata relations — __history labels every commit shape, __files mirrors the manifest, branch reads via VERSION AS OF '<name>'") {
    cat(); drop("fsd_mh")
    // merge-on-read table: create → append → MERGE → DELETE → ALTER
    (0L until 200L).map(k => (k, k % 7)).toDF("k", "v")
      .writeTo("graft.fsd_mh").create()
    Seq((10L, 99L)).toDF("k", "v").createOrReplaceTempView("fsd_mh_src")
    spark.sql("""MERGE INTO graft.fsd_mh t USING fsd_mh_src s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = s.v""".stripMargin)
    spark.sql("DELETE FROM graft.fsd_mh WHERE k % 50 = 1")
    spark.sql("ALTER TABLE graft.fsd_mh ADD COLUMN extra BIGINT")
    val hist = spark.table("graft.fsd_mh__history")
      .select("version", "operation", "added_rows", "removed_rows", "row_count")
      .orderBy("version").collect()
    assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((0L, "create"), (1L, "append"), (2L, "merge"), (3L, "delete"),
        (4L, "evolve")), hist.mkString(", "))
    assert(hist(2).getLong(2) == 1 && hist(2).getLong(3) == 1) // merge: 1 upd
    assert(hist(3).getLong(3) == 4 && hist(3).getLong(4) == 196) // 4 deleted
    // metadata relations are read-only
    intercept[Exception] {
      spark.sql("INSERT INTO graft.fsd_mh__history VALUES (9,9,'x',0,0,0,0,0,0)")
    }
    drop("fsd_mh")

    // bucketed + bloomed + compacted: __files carries the layout story
    drop("fs_mh")
    spark.sql("""CREATE TABLE graft.fs_mh (k BIGINT, tag STRING)
                |PARTITIONED BY (bucket(4, k))
                |TBLPROPERTIES ('blooms'='tag')""".stripMargin)
    (0L until 4000L).filter(_ % 8 < 4).map(k => (k, s"t$k")).toDF("k", "tag")
      .writeTo("graft.fs_mh").append()
    (0L until 4000L).filter(_ % 8 >= 4).map(k => (k, s"t$k")).toDF("k", "tag")
      .writeTo("graft.fs_mh").append()
    FsMaintenance.compact(spark, "fs_mh", targetBytes = 512L << 20)
    val ops = spark.table("graft.fs_mh__history")
      .select("operation").orderBy("version").collect().map(_.getString(0))
    assert(ops.toSeq == Seq("create", "append", "append", "maintenance"), ops.toSeq)
    val fl = spark.table("graft.fs_mh__files")
    val rows = fl.collect()
    assert(rows.length == 4 && rows.forall(r =>
      r.getInt(1) >= 0 && r.getInt(1) < 4 && // bucket
      r.getBoolean(6) && r.getBoolean(7)),   // sorted, has_bloom
      rows.mkString("\n"))
    assert(fl.agg(sum("rows")).head().getLong(0) == 4000)
    // manifest-only: the scan opens no data files
    assert(fl.queryExecution.executedPlan.toString.contains("manifest-only"))

    // branch read through SQL time travel
    val br = FsStore.createBranch("fs_mh", "stage")
    (9000L until 9100L).map(k => (k, s"t$k")).toDF("k", "tag")
      .writeTo(s"graft.$br").append()
    assert(spark.sql("SELECT * FROM graft.fs_mh VERSION AS OF 'stage'")
      .count() == 4100)
    assert(spark.table("graft.fs_mh").count() == 4000,
      "a branch read must not leak into main")
    intercept[Exception] {
      spark.sql("SELECT * FROM graft.fs_mh VERSION AS OF 'nosuch'").collect()
    }
    FsStore.dropBranch("fs_mh", "stage")
    drop("fs_mh")
  }

  test("fs: CDF startingTimestamp — the feed starts at the first version committed at or after t (Delta's contract)") {
    cat(); drop("fs_st")
    GraftClock.set(1000L, 100L)
    try {
      (0L until 10L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_st").create()
      (10L until 20L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_st").append()
      (20L until 30L).map(k => (k, k)).toDF("k", "v").writeTo("graft.fs_st").append()
      // versions 0(create,ts=1000) 1(ts=1100) 2(ts=1200) 3(ts=1300)
      def changesSince(opts: (String, String)*): Seq[Long] = {
        val r = opts.foldLeft(spark.read)((b, kv) => b.option(kv._1, kv._2))
        r.table("graft.fs_st__changes").select("k")
          .collect().map(_.getLong(0)).sorted.toSeq
      }
      // at-or-after 1250 → version 3 only
      assert(changesSince("startingTimestamp" -> "1250") == (20L until 30L))
      // exactly a commit stamp → that version included
      assert(changesSince("startingTimestamp" -> "1200") == (10L until 30L))
      // before history → everything retained
      assert(changesSince("startingTimestamp" -> "1") == (0L until 30L))
      // after the head → loud, not silently empty
      intercept[IllegalArgumentException] { changesSince("startingTimestamp" -> "9999") }
      // both knobs at once → loud conflict
      intercept[IllegalArgumentException] {
        changesSince("startingTimestamp" -> "1200", "startingVersion" -> "1")
      }
    } finally GraftClock.clear()
    drop("fs_st")
  }

  test("fs: null-count skipping — IS NULL opens only null-bearing files, all-NULL files drop from ordinary scans via implicit IsNotNull") {
    cat(); drop("fs_nl")
    // 8 range-clustered files; v is NULL on the first quarter of keys
    // (range boundaries are sampled, so the null region must span whole
    // files with margin for at least one to be provably all-NULL)
    (0L until 4000L).map(k => (k, if (k < 1000) None else Some(k % 17)))
      .toDF("k", "v").repartitionByRange(8, $"k")
      .writeTo("graft.fs_nl").create()
    val head = FsStore.current("fs_nl")
    val vId = FsStore.fieldId(head.schema("v"))
    assert(head.files.size == 8 &&
      head.files.forall(_.nullCounts.contains(vId)))
    assert(head.files.count(f => f.nullCounts(vId) == f.rows) >= 1,
      "at least one all-NULL file")
    val FilesRe = """files=(\d+)/8""".r.unanchored
    def opened(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      df.queryExecution.executedPlan.toString match {
        case FilesRe(n) => n.toInt
        case other => fail(s"no files=k/8 in: $other")
      }
    }
    // IS NULL: only the null-bearing file(s) open
    val qn = spark.table("graft.fs_nl").filter($"v".isNull).select("k")
    assert(opened(qn) <= 3)
    assert(qn.count() == 1000)
    assert(qn.queryExecution.executedPlan.toString.contains("nullProbes=1"))
    // IS NOT NULL: the all-NULL files are skipped
    val qnn = spark.table("graft.fs_nl").filter($"v".isNotNull)
    assert(opened(qnn) <= 7)
    assert(qnn.count() == 3000)
    // an ordinary equality pushes an IMPLICIT IsNotNull → same free skip
    val qe = spark.table("graft.fs_nl").filter($"v" === 3L)
    assert(opened(qe) <= 7, "implicit IsNotNull must drop the all-NULL file")
    assert(qe.count() == (1000L until 4000L).count(_ % 17 == 3))
    // pre-stats-era files (no counts) are never skipped on null-ness
    import org.apache.spark.sql.catalyst.InternalRow
    val w = new FsFileWriter("fs_nl", "legacy", head.schema)
    w.write(InternalRow(9999L, null))
    val legacy = w.finish().get.copy(nullCounts = Map.empty)
    FsStore.commitAppend("fs_nl", Vector(legacy), head.schemaId)
    assert(spark.table("graft.fs_nl").filter($"v".isNull).count() == 1001,
      "a file without counts must always be read")
    drop("fs_nl")
  }
}

object FsTableSpec {
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
