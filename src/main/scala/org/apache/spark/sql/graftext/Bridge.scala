package org.apache.spark.sql.graftext

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` doorway graft's custom plan nodes need: turning
  * a hand-built [[LogicalPlan]] back into a user-facing [[DataFrame]] or
  * typed [[Dataset]]. Spark exposes every other extension point publicly
  * (`SparkSessionExtensions`, the experimental strategy list) but keeps
  * `Dataset.ofRows` and `Dataset[T](session, plan)` package-private, so
  * every plan-level extension library ships exactly this bridge — a
  * sub-package of `org.apache.spark.sql` sees `private[sql]` (and
  * `private[spark]`) members. Nothing else in graft lives outside the
  * `graft` namespace.
  */
object Bridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(session(spark), plan)

  /** A typed Dataset over `plan`, analyzed once with `T`'s encoder
    * (`ofRows(...).as[T]` would analyze it twice). */
  def dataset[T: Encoder](spark: SparkSession, plan: LogicalPlan): Dataset[T] =
    classic.Dataset[T](session(spark), plan)

  /** The classic session behind the API one, which plan nodes such as
    * `LogicalRDD` take. */
  def session(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Registers `dir` with Spark's shutdown hook, which deletes it and
    * everything under it when the JVM exits. */
  def deleteAtExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
