package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Everything graft installs on a session, in one list: the native
  * functions ([[graft.functions.GraftFunctions]]), the optimizer rules
  * [[graft.plans.BandedLevenshtein]] and [[graft.plans.BinnedRangeJoin]],
  * the planner strategies [[graft.plans.AsofJoinStrategy]] and
  * [[graft.plans.SmallSort]], and the `graft` catalog
  * ([[graft.sources.GraftCatalog]]).
  *
  * Idempotent and cheap (16 registry lookups, four `contains`, one conf
  * set), so [[QueryDef.run]] calls it on every run and a query's plan does
  * not depend on which queries ran before it. `synchronized` makes each
  * read-modify-write of the session's rule and strategy lists atomic. The
  * rules are inert where they do not match: BinnedRangeJoin returns at
  * once while `spark.graft.rangeJoin.binWidth` is 0, BandedLevenshtein
  * rewrites only Levenshtein-vs-literal comparisons, SmallSort plans only
  * a global sort whose input is materialized and at most
  * `spark.sql.maxSinglePartitionBytes`. */
object Setup {
  def apply(s: SparkSession): Unit = synchronized {
    val reg = s.sessionState.functionRegistry
    graft.functions.GraftFunctions.fns.foreach { case (name, className, builder) =>
      val id = FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.registerFunction(id, new ExpressionInfo(className, name), builder)
    }
    val exp = s.experimental
    Seq(graft.plans.BandedLevenshtein, graft.plans.BinnedRangeJoin).foreach { rule =>
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
    Seq(graft.plans.AsofJoinStrategy, graft.plans.SmallSort).foreach { strategy =>
      if (!exp.extraStrategies.contains(strategy))
        exp.extraStrategies = exp.extraStrategies :+ strategy
    }
    s.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
  }
}
