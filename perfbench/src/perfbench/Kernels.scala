package perfbench

import graft.functions.{BitmapAlg, StringSim}
import org.apache.spark.unsafe.types.UTF8String

/** Direct timings of the `graft.functions` kernels on seeded inputs, in
  * ns per call: the median of three timed rounds after one warm-up. */
object Kernels {
  private def nsPerCall(calls: Int)(body: Int => Long): Double = {
    var sink = 0L
    val rounds = (0 until 4).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < calls) { sink += body(i); i += 1 }
      (System.nanoTime() - t0).toDouble / calls
    }
    if (sink == 42) println("") // keep the loop's result live
    rounds.drop(1).sorted.apply(1)
  }

  def run(seed: Long): Map[String, Double] = {
    val r = new scala.util.Random(seed)
    val words = Vector.fill(512)(UTF8String.fromString(
      Iterator.fill(6 + r.nextInt(14))(('a' + r.nextInt(8)).toChar).mkString))
    val maps = Vector.fill(64)(Array.fill(4096)(r.nextInt(256).toByte))
    def w(i: Int) = words(i & 511)
    Map(
      "jaro_winkler_ns" -> nsPerCall(200000)(i => (StringSim.jaroWinkler(w(i), w(i * 7 + 3)) * 1000).toLong),
      "damerau_ns" -> nsPerCall(100000)(i => StringSim.damerauLevenshtein(w(i), w(i * 5 + 1)).toLong),
      "bitmap_and_ns" -> nsPerCall(20000)(i => BitmapAlg.andBytes(maps(i & 63), maps((i * 3 + 1) & 63)).length.toLong)
    )
  }
}
