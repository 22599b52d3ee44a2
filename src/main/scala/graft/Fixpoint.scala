package graft

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}

/** The one checkpoint-and-converge path of graft's iterative graph
  * operators. A lazy plan grows by one round's lineage per iteration, so
  * every loop cuts it with an eager checkpoint, and a loop that runs to a
  * fixpoint reads its convergence test from metrics observed on that same
  * checkpoint: a converging round costs no job beyond its checkpoint. */
object Fixpoint {

  /** Eager checkpoint of `df`: a reliable `checkpoint()` into shared
    * storage when the SparkContext has a checkpoint dir, else a
    * `localCheckpoint()` — the rule of Spark's own `PeriodicCheckpointer`.
    * A deployment that needs loops to survive executor loss sets
    * `sc.setCheckpointDir`; the bench never does, so its loops stay local. */
  def ckpt(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint()

  /** [[ckpt]] of `df` together with `metrics` (one or more named
    * aggregates) over its rows, computed by the checkpoint's own job (an
    * [[Observation]]). */
  def ckpt(df: DataFrame, metrics: Column*): (DataFrame, Row) = {
    val o = Observation()
    val c = ckpt(df.observe(o, metrics.head, metrics.tail: _*))
    (c, Await.result(o.future, Duration.Inf))
  }

  /** Runs `step` from `init` until it reports no change, and returns the
    * last state with the number of rounds run (the converging one
    * included). Throws when `maxRounds` rounds still changed something:
    * a capped loop's state is wrong, never an answer. */
  def converge[S](init: S, maxRounds: Int, what: String)(step: S => (S, Boolean)): (S, Int) = {
    var (state, changed, rounds) = (init, true, 0)
    while (changed) {
      if (rounds == maxRounds)
        throw new IllegalStateException(s"$what did not converge within $maxRounds rounds")
      val (next, moved) = step(state)
      state = next; changed = moved; rounds += 1
    }
    (state, rounds)
  }
}
