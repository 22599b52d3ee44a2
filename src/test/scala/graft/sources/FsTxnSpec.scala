package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Multi-table atomic transactions ([[FsTxn]]): pending invisibility,
  * the one-marker atomic flip, abort rollback with id reuse, writer
  * blocking against an unresolved txn head, and crash recovery from the
  * begin record. */
class FsTxnSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft.$t")
    if (FsStore.exists(t)) FsStore.drop(t)
  }
  private def count(t: String): Long = spark.table(s"graft.$t").count()

  private def mkTables(fact: String, summ: String): Unit = {
    drop(fact); drop(summ)
    (0L until 100L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo(s"graft.$fact").create()
    (0L until 10L).map(g => (g, 10L)).toDF("g", "n")
      .writeTo(s"graft.$summ").create()
  }
  private def stage(donor: String, df: org.apache.spark.sql.DataFrame): String = {
    drop(donor)
    df.writeTo(s"graft.$donor").create()
    donor
  }

  test("txn: prepared versions are invisible on BOTH tables; one marker flips them together") {
    mkTables("fs_txf", "fs_txs")
    val d1 = stage("fs_txd1", (100L until 150L).map(k => (k, k % 10)).toDF("k", "v"))
    val d2 = stage("fs_txd2", (0L until 10L).map(g => (g, 15L)).toDF("g", "n"))
    val vf = FsStore.currentVersion("fs_txf")
    val vs = FsStore.currentVersion("fs_txs")
    val p = FsTxn.prepare(Seq(
      FsTxn.TxnOp("fs_txf", "fs_txd1"),
      FsTxn.TxnOp("fs_txs", "fs_txd2", replace = true)))
    // prepared but unresolved: every read path still serves the OLD heads
    assert(count("fs_txf") == 100L && count("fs_txs") == 10L)
    assert(FsStore.currentVersion("fs_txf") == vf &&
      FsStore.currentVersion("fs_txs") == vs)
    assert(spark.table("graft.fs_txs__history").count() ==
      FsStore.currentVersion("fs_txs") + 1)
    // the pending id is not even VERSION AS OF readable
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft.fs_txf VERSION AS OF ${vf + 1}").count()
    }
    assert(e.getMessage.contains("unresolved transaction") ||
      e.getMessage.contains("no version"))
    p.commit()
    // one marker create made both tables' new heads visible
    assert(count("fs_txf") == 150L && count("fs_txs") == 10L)
    assert(spark.table("graft.fs_txs").agg(sum("n")).head().getLong(0) == 150L)
    assert(FsStore.currentVersion("fs_txf") == vf + 1 &&
      FsStore.currentVersion("fs_txs") == vs + 1)
    // committed txn versions serve time travel like any other
    assert(spark.sql(s"SELECT * FROM graft.fs_txf VERSION AS OF $vf").count() == 100L)
    drop("fs_txf"); drop("fs_txs"); drop("fs_txd1"); drop("fs_txd2")
  }

  test("txn: abort rolls both tables back; the freed version id is reused by later commits") {
    mkTables("fs_txf2", "fs_txs2")
    val d1 = stage("fs_txd3", (100L until 130L).map(k => (k, k % 10)).toDF("k", "v"))
    val d2 = stage("fs_txd4", (0L until 10L).map(g => (g, 13L)).toDF("g", "n"))
    val vf = FsStore.currentVersion("fs_txf2")
    val p = FsTxn.prepare(Seq(
      FsTxn.TxnOp("fs_txf2", d1), FsTxn.TxnOp("fs_txs2", d2, replace = true)))
    p.abort()
    assert(count("fs_txf2") == 100L && count("fs_txs2") == 10L)
    // a later plain append reuses the freed id — no gap in history
    (150L until 160L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txf2").append()
    assert(FsStore.currentVersion("fs_txf2") == vf + 1)
    assert(count("fs_txf2") == 110L)
    // resolving twice is refused
    intercept[IllegalArgumentException] { p.commit() }
    drop("fs_txf2"); drop("fs_txs2"); drop("fs_txd3"); drop("fs_txd4")
  }

  test("txn: an unresolved txn head blocks writers loudly; commit unblocks them") {
    mkTables("fs_txf3", "fs_txs3")
    val d1 = stage("fs_txd5", (100L until 110L).map(k => (k, k % 10)).toDF("k", "v"))
    val p = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txf3", d1)))
    val e = intercept[Exception] {
      (200L until 210L).map(k => (k, k % 10)).toDF("k", "v")
        .writeTo("graft.fs_txf3").append()
    }
    assert(e.getMessage.contains("in-flight transaction") ||
      Option(e.getCause).exists(_.getMessage.contains("in-flight transaction")))
    p.commit()
    (200L until 210L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txf3").append()
    assert(count("fs_txf3") == 120L)
    drop("fs_txf3"); drop("fs_txs3"); drop("fs_txd5")
  }

  test("txn: crash recovery — a half-prepared txn is found via unresolved() and rolled back by id") {
    mkTables("fs_txf4", "fs_txs4")
    val d1 = stage("fs_txd6", (100L until 120L).map(k => (k, k % 10)).toDF("k", "v"))
    // simulate the crash: prepare installs one table's pending manifest,
    // then the driver dies (we just drop the Prepared handle)
    val p = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txf4", d1)))
    assert(FsTxn.unresolved().contains(p.id))
    FsTxn.abortById(p.id)
    assert(!FsTxn.unresolved().contains(p.id))
    assert(count("fs_txf4") == 100L)
    // the table is writable again
    (300L until 305L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txf4").append()
    assert(count("fs_txf4") == 105L)
    // recovery of a COMMITTED txn is refused — the marker is the truth
    val d2 = stage("fs_txd7", (400L until 405L).map(k => (k, k % 10)).toDF("k", "v"))
    val p2 = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txf4", d2)))
    p2.commit()
    intercept[IllegalArgumentException] { FsTxn.abortById(p2.id) }
    assert(count("fs_txf4") == 110L)
    drop("fs_txf4"); drop("fs_txs4"); drop("fs_txd6"); drop("fs_txd7")
  }

  test("txn: recovery sweep — expired crashed prepares are rolled back automatically; young and committed txns are safe") {
    mkTables("fs_txr1", "fs_txr2")
    val d1 = stage("fs_txrd1", (100L until 120L).map(k => (k, k % 10)).toDF("k", "v"))
    // a crashed prepare: pending manifest installed, driver gone
    val p = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txr1", d1)))
    // ... which blocks later commits on the table
    intercept[Exception] {
      (200L until 205L).map(k => (k, k % 10)).toDF("k", "v")
        .writeTo("graft.fs_txr1").append()
    }
    // a YOUNG unresolved txn is never swept (could be a live prepare of
    // a concurrent driver) — the default-age sweep leaves it alone
    assert(FsTxn.recover().isEmpty)
    assert(FsTxn.unresolved().contains(p.id))
    // past the age threshold the sweep rolls it back and unblocks
    assert(FsTxn.recover(olderThanMs = 0L).contains(p.id))
    assert(!FsTxn.unresolved().contains(p.id))
    assert(count("fs_txr1") == 100L, "recovery must roll back, not publish")
    (200L until 205L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txr1").append()
    assert(count("fs_txr1") == 105L, "the table is writable after recovery")
    // a COMMITTED txn is never swept, whatever its age
    val d2 = stage("fs_txrd2", (300L until 310L).map(k => (k, k % 10)).toDF("k", "v"))
    val p2 = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txr1", d2)))
    p2.commit()
    assert(!FsTxn.recover(olderThanMs = 0L).contains(p2.id))
    assert(count("fs_txr1") == 115L)
    drop("fs_txr1"); drop("fs_txr2"); drop("fs_txrd1"); drop("fs_txrd2")
  }

  test("txn: drop + recreate at the same paths — the old incarnation's stamps never decide visibility") {
    // the q316-under-repetition bug: manifest PATHS repeat across
    // drop/recreate, and a committed stamp cached for the OLD table's
    // v1 must not make the NEW table's pending v1 look visible
    (1 to 3).foreach { round =>
      mkTables("fs_txr", "fs_txr2")
      val d = stage("fs_txrd", (100L until 110L).map(k => (k, k % 10)).toDF("k", "v"))
      val p = FsTxn.prepare(Seq(FsTxn.TxnOp("fs_txr", d)))
      assert(count("fs_txr") == 100L,
        s"round $round: prepared txn must stay invisible after recreate")
      p.commit()
      assert(count("fs_txr") == 110L, s"round $round: commit must flip")
      drop("fs_txr"); drop("fs_txr2"); drop("fs_txrd")
    }
  }

  test("txn: a crashed abort (marker down, pending manifests left) can never commit torn") {
    mkTables("fs_txf7", "fs_txs7")
    val d1 = stage("fs_txd11", (100L until 120L).map(k => (k, k % 10)).toDF("k", "v"))
    val d2 = stage("fs_txd12", (0L until 10L).map(g => (g, 12L)).toDF("g", "n"))
    val p = FsTxn.prepare(Seq(
      FsTxn.TxnOp("fs_txf7", d1), FsTxn.TxnOp("fs_txs7", d2)))
    // simulate the crash window abort() is ordered for: the .aborted
    // marker landed but NO pending manifest was deleted yet
    FsStore.txnAbortMark(p.id)
    // the decisive invariant: commit after the marker is REFUSED — the
    // old delete-first ordering let a commit here publish only the
    // tables whose manifests were already gone (a torn transaction)
    intercept[IllegalArgumentException] { p.commit() }
    // leftover pending manifests are inert: both tables read old heads
    assert(count("fs_txf7") == 100L && count("fs_txs7") == 10L)
    // the interrupted rollback completes idempotently; tables writable
    p.abort()
    (200L until 205L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txf7").append()
    assert(count("fs_txf7") == 105L)
    drop("fs_txf7"); drop("fs_txs7"); drop("fs_txd11"); drop("fs_txd12")
  }

  test("txn: prepare failure on the second table rolls back the first (all-or-nothing prepare)") {
    mkTables("fs_txf5", "fs_txs5")
    val d1 = stage("fs_txd8", (100L until 120L).map(k => (k, k % 10)).toDF("k", "v"))
    // donor schema mismatch on the second op
    val bad = stage("fs_txd9", (0L until 5L).map(g => (g, "x")).toDF("g", "s"))
    intercept[Exception] {
      FsTxn.prepare(Seq(
        FsTxn.TxnOp("fs_txf5", d1), FsTxn.TxnOp("fs_txs5", bad)))
    }
    assert(count("fs_txf5") == 100L && count("fs_txs5") == 10L)
    // both tables writable (nothing left pending)
    (500L until 505L).map(k => (k, k % 10)).toDF("k", "v")
      .writeTo("graft.fs_txf5").append()
    assert(count("fs_txf5") == 105L)
    drop("fs_txf5"); drop("fs_txs5"); drop("fs_txd8"); drop("fs_txd9")
  }
}
