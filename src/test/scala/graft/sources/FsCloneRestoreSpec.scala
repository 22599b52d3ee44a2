package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CLONE (hard-link manifest copy) and RESTORE (rollback as a logical
  * commit): independence under source vacuum/drop, preserved history,
  * and the refusal edges. */
class FsCloneRestoreSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private def cat(): Unit =
    GraftCatalog.register(spark)
  private def drop(t: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS graft.$t")
    if (FsStore.exists(t)) FsStore.drop(t)
  }

  test("clone: shares bytes, keeps history, and survives source vacuum, expiry, and drop") {
    cat(); drop("fs_cl1"); drop("fs_cl2")
    val src = (0L until 300L).map(k => (k, k % 7)).toDF("k", "v")
    src.filter($"k" < 150L).writeTo("graft.fs_cl1").create()
    src.filter($"k" >= 150L).writeTo("graft.fs_cl1").append()
    val head = FsStore.cloneTable("fs_cl1", "fs_cl2")
    assert(head == FsStore.currentVersion("fs_cl1"))
    // full history travelled on the clone
    assert(spark.sql("SELECT * FROM graft.fs_cl2 VERSION AS OF 1").count() == 150L)
    assert(spark.table("graft.fs_cl2").count() == 300L)
    // divergence is independent both ways
    spark.sql("UPDATE graft.fs_cl2 SET v = v + 100 WHERE k < 10")
    assert(spark.table("graft.fs_cl1").agg(sum("v")).head().getLong(0) ==
      (0L until 300L).map(_ % 7).sum)
    // source expiry + vacuum reclaims SOURCE paths; the clone's links live
    FsStore.expireVersions("fs_cl1", keep = 1)
    spark.sql("DELETE FROM graft.fs_cl1 WHERE k >= 0") // orphan old files
    FsStore.expireVersions("fs_cl1", keep = 1)
    FsStore.vacuum("fs_cl1")
    assert(spark.table("graft.fs_cl2").count() == 300L,
      "vacuuming the source must not break the clone")
    drop("fs_cl1")
    assert(spark.table("graft.fs_cl2").count() == 300L,
      "dropping the source must not break the clone")
    drop("fs_cl2")
  }

  test("clone: versions loaded by a transaction stay readable after the txn marker expires") {
    cat(); drop("fs_cl3"); drop("fs_cl4"); drop("fs_cl3d")
    spark.sql("CREATE TABLE graft.fs_cl3 (k BIGINT, v BIGINT)")
    (0L until 80L).map(k => (k, k % 5)).toDF("k", "v")
      .writeTo("graft.fs_cl3d").create()
    val committed = FsTxn.commitAll(Seq(FsTxn.TxnOp("fs_cl3", "fs_cl3d")))
    val txnId = {
      // the source head's visibility hangs on this marker
      val v = FsStore.versionAt("fs_cl3", committed.head._2)
      assert(v.txnId.nonEmpty, "txn-loaded version must carry the stamp")
      v.txnId.get
    }
    FsStore.cloneTable("fs_cl3", "fs_cl4")
    assert(spark.table("graft.fs_cl4").count() == 80L)
    // expire the marker (cleanup/relocation scenario): the clone's
    // manifests carry NO stamp — committed by construction — so its
    // whole history must stay readable
    java.nio.file.Files.delete(FsStore.txnMarker(txnId, "committed"))
    assert(spark.table("graft.fs_cl4").count() == 80L,
      "clone must not depend on the source's txn markers")
    assert(spark.sql("SELECT * FROM graft.fs_cl4 VERSION AS OF 1").count() == 80L)
    drop("fs_cl3"); drop("fs_cl4"); drop("fs_cl3d")
  }

  test("restore: logical rollback with travel to the botched era intact; refusal edges") {
    cat(); drop("fs_rs1")
    val src = (0L until 100L).map(k => (k, k % 5)).toDF("k", "v")
    src.writeTo("graft.fs_rs1").create()
    val vGood = FsStore.currentVersion("fs_rs1")
    (1000L until 1050L).map(k => (k, -1L)).toDF("k", "v")
      .writeTo("graft.fs_rs1").append()
    val vBad = FsStore.currentVersion("fs_rs1")
    val vNew = FsStore.restore("fs_rs1", vGood)
    assert(vNew == vBad + 1)
    assert(spark.table("graft.fs_rs1").count() == 100L)
    // forensics: the botched era still time-travels
    assert(spark.sql(s"SELECT * FROM graft.fs_rs1 VERSION AS OF $vBad")
      .count() == 150L)
    // restoring to the current head (not before it) refuses
    intercept[IllegalArgumentException] { FsStore.restore("fs_rs1", vNew) }
    // restoring across a schema change refuses
    spark.sql("ALTER TABLE graft.fs_rs1 ADD COLUMNS (w BIGINT)")
    val e = intercept[IllegalArgumentException] {
      FsStore.restore("fs_rs1", vGood)
    }
    assert(e.getMessage.contains("schema change"))
    drop("fs_rs1")
  }

  test("restore: a merge-on-read table's masks roll back with the snapshot") {
    cat(); drop("fsd_rs2")
    val src = (0L until 200L).map(k => (k, k % 9)).toDF("k", "v")
    src.writeTo("graft.fsd_rs2").create()
    spark.sql("DELETE FROM graft.fsd_rs2 WHERE k % 4 = 1") // masked delete
    val vMasked = FsStore.currentVersion("fsd_rs2")
    val maskedSum = spark.table("graft.fsd_rs2").agg(sum("v")).head().getLong(0)
    spark.sql("DELETE FROM graft.fsd_rs2 WHERE k % 2 = 0")
    FsStore.restore("fsd_rs2", vMasked)
    assert(spark.table("graft.fsd_rs2").agg(sum("v")).head().getLong(0) ==
      maskedSum, "restore must reinstate the masked snapshot exactly")
    drop("fsd_rs2")
  }
}
