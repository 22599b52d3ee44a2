package graft
import org.apache.spark.sql.functions._
object KernelBench {
  def main(args: Array[String]): Unit = {
    val spark = TestSession.spark
    import spark.implicits._
    val n = 2000000L
    val vecs = spark.range(n).select(col("id"),
      expr("transform(sequence(1, 64), i -> xxhash64(id, i) % 100000)").as("iv"))
      .localCheckpoint()
    val q = vecs.filter(col("id") === 0).select(col("iv").as("qv"))
    def time(label: String, c: org.apache.spark.sql.Column): Unit =
      (1 to 3).foreach { r =>
        val t0 = System.nanoTime()
        val s = vecs.crossJoin(broadcast(q)).agg(sum(c)).head().getLong(0)
        println(f"[kb] $label run$r ${(System.nanoTime()-t0)/1e9}%.2f s (sum=$s)")
      }
    time("fold_dot", expr("aggregate(zip_with(iv, qv, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
    time("kernel_dot", graft.functions.GraftFunctions.longDot(col("iv"), col("qv")))
    time("fold_sqd", expr("aggregate(zip_with(iv, qv, (x, y) -> (x - y) * (x - y)), 0L, (a, x) -> a + x)"))
    time("kernel_sqd", graft.functions.GraftFunctions.longSqDist(col("iv"), col("qv")))
  }
}
