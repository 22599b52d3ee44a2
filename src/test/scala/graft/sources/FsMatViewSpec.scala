package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental materialized view maintenance ([[FsMatView]]): signed
  * delta aggregation over the base's CDF window, exactly-once contents
  * swap via [[FsStore.adoptReplace]], crash/replay recovery, and the
  * definition-time refusals that keep the algebra exact. */
class FsMatViewSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def cat(): Unit =
    GraftCatalog.register(spark)
  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft.$t")
    if (FsStore.exists(t)) FsStore.drop(t)
  }

  private def fullRecompute(base: String): DataFrame =
    spark.table(s"graft.$base").groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum($"v".cast("long")).as("sum_v"),
        count($"v").as("nn_v"))

  private def assertViewEquals(view: String, expected: DataFrame): Unit = {
    val got = spark.table(s"graft.$view")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "view contents must equal the full recompute")
  }

  test("ivm: seed + append/update/delete refreshes track the base exactly, O(changes) windows") {
    cat(); drop("fsd_ivb"); drop("fs_ivv"); drop("fs_ivv__ivm")
    val src = (0L until 600L).map(k => (k, k % 7, k % 13)).toDF("k", "g", "v")
    src.filter($"k" < 200L).writeTo("graft.fsd_ivb").create()
    val seeded = FsMatView.create(spark, "fs_ivv", "fsd_ivb", Seq("g"), Seq("v"))
    assert(seeded.applied && FsMatView.isFresh("fs_ivv"))
    assert(FsMatView.appliedVersion("fs_ivv") == FsStore.currentVersion("fsd_ivb"))
    assertViewEquals("fs_ivv", fullRecompute("fsd_ivb"))

    // window 1: two appends before one refresh (multi-version window)
    src.filter($"k" >= 200L && $"k" < 400L).writeTo("graft.fsd_ivb").append()
    src.filter($"k" >= 400L).writeTo("graft.fsd_ivb").append()
    val s1 = FsMatView.refresh(spark, "fs_ivv")
    assert(s1.applied && s1.deltaRows == 400L,
      s"refresh must consume exactly the window's change rows, got ${s1.deltaRows}")
    assertViewEquals("fs_ivv", fullRecompute("fsd_ivb"))

    // window 2: merge-on-read update + delete (signed pre/post images)
    src.filter($"k" % 11 === 0L).createOrReplaceTempView("ivm_upd")
    spark.sql("""MERGE INTO graft.fsd_ivb t USING ivm_upd s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = t.v + 1000
                |WHEN NOT MATCHED BY SOURCE AND t.k % 17 = 3 THEN DELETE
                |""".stripMargin)
    val s2 = FsMatView.refresh(spark, "fs_ivv")
    assert(s2.applied && s2.deltaRows < 600L)
    assertViewEquals("fs_ivv", fullRecompute("fsd_ivb"))

    // a group deleted to zero rows vanishes from the view
    spark.sql("DELETE FROM graft.fsd_ivb WHERE g = 3")
    assert(FsMatView.refresh(spark, "fs_ivv").applied)
    assert(spark.table("graft.fs_ivv").filter($"g" === 3L).isEmpty)
    assertViewEquals("fs_ivv", fullRecompute("fsd_ivb"))

    // fresh view: refresh applies nothing, installs no version
    val v = FsStore.currentVersion("fs_ivv")
    assert(!FsMatView.refresh(spark, "fs_ivv").applied)
    assert(FsStore.currentVersion("fs_ivv") == v)
    drop("fsd_ivb"); drop("fs_ivv")
  }

  test("ivm: definition survives sessions on disk; non-integral SUM and MIN/MAX shapes are refused") {
    cat(); drop("fs_ivb2"); drop("fs_ivv2")
    val src = (0L until 50L).map(k => (k, k % 3, k.toDouble)).toDF("k", "g", "d")
    src.writeTo("graft.fs_ivb2").create()
    // double SUM refused: delta algebra exact only for integral sums
    val e = intercept[IllegalArgumentException] {
      FsMatView.create(spark, "fs_ivv2", "fs_ivb2", Seq("g"), Seq("d"))
    }
    assert(e.getMessage.contains("not integral"))
    // integral view works and its definition round-trips from _view.json
    FsMatView.create(spark, "fs_ivv2", "fs_ivb2", Seq("g"), Seq("k"))
    val d = FsMatView.definitionOf("fs_ivv2")
    assert(d == FsMatView.ViewDef("fs_ivb2", Seq("g"), Seq("k")))
    drop("fs_ivb2"); drop("fs_ivv2")
  }

  test("ivm: crashed refresh (scratch left behind) recovers; adopt replay installs nothing") {
    cat(); drop("fs_ivb3"); drop("fs_ivv3"); drop("fs_ivv3__ivm")
    val src = (0L until 120L).map(k => (k, k % 5, k % 9)).toDF("k", "g", "v")
    src.filter($"k" < 60L).writeTo("graft.fs_ivb3").create()
    FsMatView.create(spark, "fs_ivv3", "fs_ivb3", Seq("g"), Seq("v"))
    // simulate a refresh that died after the scratch write, before adopt:
    // a stale scratch table with garbage contents must be dropped, not adopted
    FsStore.create("fs_ivv3__ivm", FsStore.schemaOf("fs_ivv3"))
    src.filter($"k" >= 60L).writeTo("graft.fs_ivb3").append()
    val s1 = FsMatView.refresh(spark, "fs_ivv3", mode = "replace")
    assert(s1.applied)
    assertViewEquals("fs_ivv3", fullRecompute("fs_ivb3"))
    assert(!FsStore.exists("fs_ivv3__ivm"), "refresh must clean its scratch")
    // replayed adopt (same mark) is a no-op even with a donor present
    FsStore.create("fs_ivv3__ivm", FsStore.schemaOf("fs_ivv3"))
    assert(!FsStore.adoptReplace("fs_ivv3", "fs_ivv3__ivm", "ivm",
      FsMatView.appliedVersion("fs_ivv3")))
    FsStore.drop("fs_ivv3__ivm")
    drop("fs_ivb3"); drop("fs_ivv3")
  }

  test("ivm delta mode: O(changed groups) writes, repeated masks, death, NULL-group refusal, auto policy") {
    cat(); drop("fsd_ivd"); drop("fs_ivd")
    val src = (0L until 1000L).map(k => (k, k % 200, k % 11)).toDF("k", "g", "v")
    src.writeTo("graft.fsd_ivd").create()
    FsMatView.create(spark, "fs_ivd", "fsd_ivd", Seq("g"), Seq("v"))
    val filesBefore = FsStore.current("fs_ivd").files.toSet
    // small window: 10 rows → ≤10 of 200 groups; auto picks delta
    (1000L until 1010L).map(k => (k, k % 200, k % 11)).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivd").append()
    val s1 = FsMatView.refresh(spark, "fs_ivd")
    assert(s1.applied && s1.incremental, "auto must pick delta for a small window")
    val head1 = FsStore.current("fs_ivd")
    assert(head1.masks.size == 1)
    // the original view files survived UNREWRITTEN — O(changed groups)
    assert(filesBefore.subsetOf(head1.files.toSet),
      "delta refresh must not rewrite unchanged view files")
    assertViewEquals("fs_ivd", fullRecompute("fsd_ivd"))
    // second window: kill group 3 → masked delete; masks accumulate
    spark.sql("DELETE FROM graft.fsd_ivd WHERE g = 3")
    val s2 = FsMatView.refresh(spark, "fs_ivd", mode = "delta")
    assert(s2.applied && s2.incremental)
    assert(FsStore.current("fs_ivd").masks.size == 2)
    assert(spark.table("graft.fs_ivd").filter($"g" === 3L).isEmpty)
    assertViewEquals("fs_ivd", fullRecompute("fsd_ivd"))
    // compactor: masks cleared, contents identical
    FsMatView.compact(spark, "fs_ivd")
    assert(FsStore.current("fs_ivd").masks.isEmpty)
    assertViewEquals("fs_ivd", fullRecompute("fsd_ivd"))
    // a LARGE window flips auto back to replace
    (2000L until 3200L).map(k => (k, k % 200, k % 11)).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivd").append()
    val s3 = FsMatView.refresh(spark, "fs_ivd")
    assert(s3.applied && !s3.incremental, "auto must pick replace for a bulk window")
    assertViewEquals("fs_ivd", fullRecompute("fsd_ivd"))
    drop("fsd_ivd"); drop("fs_ivd")
    // NULL group keys: delta mode refuses loudly (masks key the first col)
    drop("fsd_ivn"); drop("fs_ivn")
    Seq((1L, Option(2L), 5L), (2L, Option.empty[Long], 6L))
      .toDF("k", "g", "v").writeTo("graft.fsd_ivn").create()
    FsMatView.create(spark, "fs_ivn", "fsd_ivn", Seq("g"), Seq("v"))
    Seq((3L, Option.empty[Long], 7L)).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivn").append()
    val e = intercept[IllegalArgumentException] {
      FsMatView.refresh(spark, "fs_ivn", mode = "delta")
    }
    assert(e.getMessage.contains("NULL group"))
    // replace handles the NULL group fine
    assert(FsMatView.refresh(spark, "fs_ivn", mode = "replace").applied)
    val nullGroup = spark.table("graft.fs_ivn").filter($"g".isNull).head()
    assert(nullGroup.getLong(1) == 2L && nullGroup.getLong(2) == 13L)
    drop("fsd_ivn"); drop("fs_ivn")
  }

  test("ivm chaining: a view over a view stays incremental through the upstream view's CDF") {
    cat(); drop("fsd_ivc"); drop("fs_ivc1"); drop("fs_ivc2")
    val src = (0L until 400L).map(k => (k, k % 40, 1L)).toDF("k", "g", "v")
    src.writeTo("graft.fsd_ivc").create()
    // v1: per-group counts; v2 over v1: how many groups have each size
    // (grouping v2 by v1's sum_v — v=1 per row, so sum_v IS the size)
    FsMatView.create(spark, "fs_ivc1", "fsd_ivc", Seq("g"), Seq("v"))
    FsMatView.create(spark, "fs_ivc2", "fs_ivc1", Seq("sum_v"), Seq("n_rows"))
    // upstream change: 5 rows into group 0 → v1 group 0 moves 10→15
    (400L until 405L).map(k => (k, 0L, 1L)).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivc").append()
    val u1 = FsMatView.refresh(spark, "fs_ivc1", mode = "delta")
    assert(u1.applied && u1.incremental)
    val u2 = FsMatView.refresh(spark, "fs_ivc2")
    assert(u2.applied)
    val v2 = spark.table("graft.fs_ivc2").orderBy("sum_v").collect()
    // 39 groups of size 10, one group of size 15
    assert(v2.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((10L, 39L), (15L, 1L)))
    drop("fsd_ivc"); drop("fs_ivc1"); drop("fs_ivc2")
  }

  test("ivm: NULL values in SUM columns stay SQL-exact through delta AND replace refreshes") {
    cat(); drop("fsd_ivs"); drop("fs_ivs")
    // group 0 starts all-NULL (SUM must serve NULL); group 1 mixed
    Seq((1L, 0L, Option.empty[Long]), (2L, 0L, Option.empty[Long]),
      (3L, 1L, Option(5L)), (4L, 1L, Option.empty[Long]))
      .toDF("k", "g", "v").writeTo("graft.fsd_ivs").create()
    FsMatView.create(spark, "fs_ivs", "fsd_ivs", Seq("g"), Seq("v"))
    assertViewEquals("fs_ivs", fullRecompute("fsd_ivs"))
    // window 1 (delta path): append an ALL-NULL row into existing group 1
    // — the round-10 advisory shape: the window's delta sum is NULL and
    // must not poison group 1's stored sum
    Seq((5L, 1L, Option.empty[Long])).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivs").append()
    val s1 = FsMatView.refresh(spark, "fs_ivs", mode = "delta")
    assert(s1.applied && s1.incremental)
    assertViewEquals("fs_ivs", fullRecompute("fsd_ivs"))
    assert(spark.table("graft.fs_ivs").filter($"g" === 1L)
      .head().getLong(2) == 5L, "NULL delta must not corrupt the sum")
    // window 2 (delta path): delete group 1's ONLY non-null value — the
    // served SUM must go back to NULL (counter reaches 0), not 0
    spark.sql("DELETE FROM graft.fsd_ivs WHERE k = 3")
    assert(FsMatView.refresh(spark, "fs_ivs", mode = "delta").applied)
    assertViewEquals("fs_ivs", fullRecompute("fsd_ivs"))
    val g1 = spark.table("graft.fs_ivs").filter($"g" === 1L).head()
    assert(g1.isNullAt(2) && g1.getLong(3) == 0L,
      "SUM must serve NULL when its last non-null value is deleted")
    // window 3 (replace path): same invariants through the full merge
    Seq((6L, 0L, Option(7L)), (7L, 1L, Option.empty[Long]))
      .toDF("k", "g", "v").writeTo("graft.fsd_ivs").append()
    assert(FsMatView.refresh(spark, "fs_ivs", mode = "replace").applied)
    assertViewEquals("fs_ivs", fullRecompute("fsd_ivs"))
    drop("fsd_ivs"); drop("fs_ivs")
  }

  test("ivm: auto mode falls back to replace (never throws) when a small window touches the NULL group") {
    cat(); drop("fsd_ivng"); drop("fs_ivng")
    (0L until 400L).map(k => (k, Option(k % 40), k % 7))
      .toDF("k", "g", "v").writeTo("graft.fsd_ivng").create()
    FsMatView.create(spark, "fs_ivng", "fsd_ivng", Seq("g"), Seq("v"))
    // a SMALL window (auto would pick delta) that touches the NULL group
    Seq((1000L, Option.empty[Long], 3L), (1001L, Option(2L), 4L))
      .toDF("k", "g", "v").writeTo("graft.fsd_ivng").append()
    val st = FsMatView.refresh(spark, "fs_ivng") // auto: must not throw
    assert(st.applied && !st.incremental,
      "auto must degrade to replace for a NULL-group window")
    assertViewEquals("fs_ivng", fullRecompute("fsd_ivng"))
    drop("fsd_ivng"); drop("fs_ivng")
  }

  test("ivm min/max: inserts fold in incrementally; deletes of the extreme recompute only stale groups") {
    cat(); drop("fsd_ivm"); drop("fs_ivm")
    val src = (0L until 300L).map(k => (k, k % 6, k % 50))
      .toDF("k", "g", "v")
    src.writeTo("graft.fsd_ivm").create()
    def full(): DataFrame = spark.table("graft.fsd_ivm").groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum($"v".cast("long")).as("sum_v"),
        count($"v").as("nn_v"), min($"v").as("min_v"), max($"v").as("max_v"))
    FsMatView.create(spark, "fs_ivm", "fsd_ivm", Seq("g"), Seq("v"),
      minCols = Seq("v"), maxCols = Seq("v"))
    assertViewEquals("fs_ivm", full())
    // inserts only: min/max fold in without touching the base
    Seq((1000L, 2L, -5L), (1001L, 3L, 99L)).toDF("k", "g", "v")
      .writeTo("graft.fsd_ivm").append()
    assert(FsMatView.refresh(spark, "fs_ivm").applied)
    assertViewEquals("fs_ivm", full())
    assert(spark.table("graft.fs_ivm").filter($"g" === 2L)
      .head().getAs[Long]("min_v") == -5L)
    // delete the global max of group 3 (the 99) — stale, must recompute
    spark.sql("DELETE FROM graft.fsd_ivm WHERE k = 1001")
    // and delete interior values of group 4 — NOT stale, no recompute needed
    spark.sql("DELETE FROM graft.fsd_ivm WHERE g = 4 AND v BETWEEN 10 AND 20")
    assert(FsMatView.refresh(spark, "fs_ivm").applied)
    assertViewEquals("fs_ivm", full())
    // MERGE with updates moving the extremes both ways
    spark.table("graft.fsd_ivm").filter($"k" % 9 === 0)
      .createOrReplaceTempView("ivm_mm_upd")
    spark.sql("""MERGE INTO graft.fsd_ivm t USING ivm_mm_upd s ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET t.v = t.v + 200
                |""".stripMargin)
    assert(FsMatView.refresh(spark, "fs_ivm").applied)
    assertViewEquals("fs_ivm", full())
    // an insert-only window RIDES the merge-on-read delta path even on
    // a MIN/MAX view (no stored extreme can go stale)
    Seq((2000L, 1L, 1L)).toDF("k", "g", "v").writeTo("graft.fsd_ivm").append()
    val sIns = FsMatView.refresh(spark, "fs_ivm", mode = "delta")
    assert(sIns.applied && sIns.incremental,
      "append windows on MIN/MAX views must stay O(changed groups)")
    assertViewEquals("fs_ivm", full())
    // delta mode is a loud refusal when the window deletes a value
    // tying-or-beating a stored extreme (those groups need recompute):
    // v=1 ties group 1's stored min
    spark.sql("DELETE FROM graft.fsd_ivm WHERE k = 2000")
    val e = intercept[IllegalArgumentException] {
      FsMatView.refresh(spark, "fs_ivm", mode = "delta")
    }
    assert(e.getMessage.contains("MIN/MAX"))
    // auto degrades the same window to replace and stays exact
    val sStale = FsMatView.refresh(spark, "fs_ivm")
    assert(sStale.applied && !sStale.incremental)
    assertViewEquals("fs_ivm", full())
    drop("fsd_ivm"); drop("fs_ivm")
  }

  test("ivm: endingVersion pins the CDF window against concurrent base commits") {
    cat(); drop("fs_ivb4")
    val src = (0L until 90L).map(k => (k, k % 4)).toDF("k", "v")
    src.filter($"k" < 30L).writeTo("graft.fs_ivb4").create() // v0+v1
    src.filter($"k" >= 30L && $"k" < 60L).writeTo("graft.fs_ivb4").append() // v2
    src.filter($"k" >= 60L).writeTo("graft.fs_ivb4").append() // v3
    val pinned = spark.read
      .option("startingVersion", "2").option("endingVersion", "2")
      .table("graft.fs_ivb4__changes")
    assert(pinned.count() == 30L &&
      pinned.agg(min("k"), max("k")).head() ==
        spark.range(30, 60).agg(min("id"), max("id")).head())
    // endingVersion outside the batch-CDF relation is refused
    val e = intercept[Exception] {
      spark.read.option("endingVersion", "2").table("graft.fs_ivb4").count()
    }
    assert(e.getMessage.contains("endingVersion"))
    drop("fs_ivb4")
  }

  test("ivm multi-column groups: canonical gkey masks NULL-bearing tuples; MIN rides append deltas; stale extremes fall back") {
    cat(); drop("fsd_ivg"); drop("fs_ivg")
    // 2-column group with NULLs in BOTH columns — the shape single-col
    // masks could never key; gkey (to_json of the group struct) can
    val src = (0L until 600L).map { k =>
      (k, if (k % 10 == 9) None else Some(k % 4),
        if (k % 15 == 14) None else Some(k % 3), k % 10)
    }.toDF("k", "g1", "g2", "v")
    src.filter($"k" < 500L).writeTo("graft.fsd_ivg").create()
    FsMatView.create(spark, "fs_ivg", "fsd_ivg", Seq("g1", "g2"),
      Seq("v"), minCols = Seq("v"), maxCols = Seq("v"))
    val sch = FsStore.schemaOf("fs_ivg")
    assert(sch.fields.head.name == "gkey" &&
      sch.fields.head.dataType.simpleString == "string",
      "multi-group views lead with the canonical serialized key")
    def full(): DataFrame = spark.table("graft.fsd_ivg").groupBy("g1", "g2")
      .agg(count(lit(1)).as("n_rows"), sum($"v".cast("long")).as("sum_v"),
        count($"v").as("nn_v"), min($"v").as("min_v"), max($"v").as("max_v"))
    def viewNoKey(): DataFrame = spark.table("graft.fs_ivg").drop("gkey")
    def assertExact(): Unit =
      assert(viewNoKey().exceptAll(full()).isEmpty &&
        full().exceptAll(viewNoKey()).isEmpty,
        "multi-group view must equal the full recompute")
    assertExact()
    // gkey is injective: one row per distinct group tuple
    assert(spark.table("graft.fs_ivg").select("gkey").distinct.count() ==
      spark.table("graft.fs_ivg").count())
    // window 1: append touching NULL-bearing tuples — rides the delta
    val filesBefore = FsStore.current("fs_ivg").files.toSet
    src.filter($"k" >= 500L).writeTo("graft.fsd_ivg").append()
    val s1 = FsMatView.refresh(spark, "fs_ivg", mode = "delta")
    assert(s1.applied && s1.incremental,
      "multi-group MIN/MAX append windows must ride the MoR delta")
    assert(FsStore.current("fs_ivg").masks.size == 1)
    assert(filesBefore.subsetOf(FsStore.current("fs_ivg").files.toSet),
      "delta refresh must not rewrite unchanged view files")
    assertExact()
    // window 2: kill one NULL-bearing group entirely — masked delete by
    // gkey; also delete interior values (NOT extreme-beating: for the
    // all-groups v∈0..9 layout, v=5 never ties min 0 / max 9)
    spark.sql("DELETE FROM graft.fsd_ivg WHERE g1 IS NULL AND g2 IS NULL")
    spark.sql("DELETE FROM graft.fsd_ivg WHERE g1 = 1 AND g2 = 1 AND v = 5")
    val s2 = FsMatView.refresh(spark, "fs_ivg", mode = "delta")
    assert(s2.applied && s2.incremental)
    assert(viewNoKey().filter($"g1".isNull && $"g2".isNull).isEmpty,
      "a group deleted to zero rows vanishes via its gkey mask")
    assertExact()
    // window 3: delete a group's stored min → stale → explicit delta
    // refuses, auto falls back to replace (which compacts masks)
    spark.sql("DELETE FROM graft.fsd_ivg WHERE g1 = 2 AND g2 = 2 AND v = 0")
    val e2 = intercept[IllegalArgumentException] {
      FsMatView.refresh(spark, "fs_ivg", mode = "delta")
    }
    assert(e2.getMessage.contains("MIN/MAX"))
    val s3 = FsMatView.refresh(spark, "fs_ivg")
    assert(s3.applied && !s3.incremental)
    assert(FsStore.current("fs_ivg").masks.isEmpty)
    assertExact()
    drop("fsd_ivg"); drop("fs_ivg")
  }

  test("ivm multi-column groups: gkey distinguishes ambiguous tuple serializations") {
    cat(); drop("fsd_ivj"); drop("fs_ivj")
    // adversarial string groups: ("a,b", "c") vs ("a", "b,c") — any
    // naive concat collides; JSON escaping must keep them apart
    Seq((1L, "a,b", "c", 1L), (2L, "a", "b,c", 2L),
      (3L, "a\"x", null.asInstanceOf[String], 3L),
      (4L, "a", "\"x", 4L))
      .toDF("k", "g1", "g2", "v").writeTo("graft.fsd_ivj").create()
    FsMatView.create(spark, "fs_ivj", "fsd_ivj", Seq("g1", "g2"), Seq("v"))
    assert(spark.table("graft.fs_ivj").count() == 4L,
      "every adversarial tuple must stay a distinct group")
    // delta-refresh an update against one of the colliding-if-naive keys
    spark.sql("INSERT INTO graft.fsd_ivj VALUES (5, 'a,b', 'c', 10)")
    val s1 = FsMatView.refresh(spark, "fs_ivj", mode = "delta")
    assert(s1.applied && s1.incremental)
    val r = spark.table("graft.fs_ivj")
      .filter($"g1" === "a,b" && $"g2" === "c").head()
    assert(r.getAs[Long]("n_rows") == 2L && r.getAs[Long]("sum_v") == 11L)
    val other = spark.table("graft.fs_ivj")
      .filter($"g1" === "a" && $"g2" === "b,c").head()
    assert(other.getAs[Long]("n_rows") == 1L && other.getAs[Long]("sum_v") == 2L,
      "the naive-concat twin must be untouched")
    drop("fsd_ivj"); drop("fs_ivj")
  }

  test("FsQueries.sameRows: one-job multiset equality, robust to shared lineage") {
    import graft.TestSession.spark.implicits._
    val a = Seq((1L, "x"), (1L, "x"), (2L, null: String)).toDF("k", "s")
    val b = Seq((1L, "x"), (1L, "x"), (2L, null: String)).toDF("k", "s")
    assert(FsQueries.sameRows(a, b), "equal multisets (incl. NULLs) must compare equal")
    // multiplicity difference must be caught
    val c = Seq((1L, "x"), (2L, null: String)).toDF("k", "s")
    assert(!FsQueries.sameRows(a, c), "a multiplicity difference must fail")
    // SHARED-lineage regression: alias-qualified predicates over the same
    // attribute ids fold to trivially-true and make the check vacuous —
    // the hard rename must keep a real difference detectable
    val base = Seq((1L, 10L), (2L, 20L)).toDF("k", "v").localCheckpoint()
    val shifted = base.withColumn("v", col("v") + 1).select("k", "v")
    assert(!FsQueries.sameRows(base, shifted),
      "a difference between frames sharing lineage must fail")
    assert(FsQueries.sameRows(base, base.select("k", "v")),
      "a frame must equal itself")
  }
}
