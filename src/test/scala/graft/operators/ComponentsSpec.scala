package graft.operators

import graft.SparkSpec

/** Connected components: distributed min-label loop vs driver union-find
  * must agree on arbitrary graphs. */
class ComponentsSpec extends SparkSpec {
  import graft.TestSession.spark.implicits._

  private val rng = new scala.util.Random(7)

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("distributed loop == local union-find on random graphs") {
    for (_ <- 1 to 3) {
      val n = 30 + rng.nextInt(40)
      val verts = (0L until n).toDF("id")
      val edges = Seq.fill(n / 2)((rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .toDF("src", "dst")
      val dist = labelsOf(Components.connectedComponents(verts, edges))
      val local = labelsOf(Components.connectedComponentsAuto(verts, edges)) // small → local union-find
      val distViaAuto = labelsOf(Components.connectedComponentsAuto(verts, edges, localThreshold = 0)) // force loop
      assert(dist == local && dist == distViaAuto)
    }
  }

  test("chain graph: long diameter converges (distributed path)") {
    val n = 12L
    val verts = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val out = labelsOf(Components.connectedComponents(verts, edges))
    assert(out.values.toSet == Set(0L)) // single component labeled by min id
  }

  test("pointer jumping: 300-node path converges within the iteration cap") {
    // pure neighbor min-propagation needs O(diameter)=300 rounds — far
    // over maxIter; pointer jumping halves chain lengths every round, so
    // convergence is O(log n) (~10 rounds). Wrong labels here would mean
    // the loop hit maxIter unconverged.
    val n = 300L
    val verts = (0L until n).toDF("id")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    val out = labelsOf(Components.connectedComponents(verts, edges, maxIter = 15))
    assert(out.values.toSet == Set(0L), "path graph must collapse to component 0")
  }

  test("non-convergence throws instead of returning wrong labels") {
    // a 6-node path cannot converge in one round — the guard must fire
    // rather than silently returning half-propagated labels
    val verts = (0L until 6L).toDF("id")
    val edges = (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Components.connectedComponents(verts, edges, maxIter = 1)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("reliable checkpoint path produces the same labels") {
    val verts = (0L until 20L).toDF("id")
    val edges = (0L until 19L by 2).map(i => (i, i + 1)).toDF("src", "dst")
    val (_, reliable) = withCheckpointDir(labelsOf(Components.connectedComponents(verts, edges)))
    val local = labelsOf(Components.connectedComponents(verts, edges))
    assert(reliable == local)
    assert(reliable == labelsOf(Components.connectedComponentsAuto(verts, edges)))
  }

  test("Fixpoint.ckpt checkpoints reliably only while the context has a checkpoint dir") {
    import org.apache.spark.sql.execution.LogicalRDD
    def rddOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }.get
    val frame = (0L until 10L).toDF("id")
    val (dir, reliable) = withCheckpointDir(rddOf(graft.Fixpoint.ckpt(frame)))
    assert(reliable.isCheckpointed && reliable.getCheckpointFile.exists(_.contains(dir.getName)))
    assert(spark.sparkContext.getCheckpointDir.isEmpty, "the dir must be unset afterwards")
    val local = rddOf(graft.Fixpoint.ckpt(frame))
    assert(local.isCheckpointed && local.getCheckpointFile.isEmpty)
  }

  test("singletons label themselves") {
    val verts = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = labelsOf(Components.connectedComponentsAuto(verts, edges))
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 3L))
  }
}
