package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Session-shared intermediates: a value derived once per (session, key)
  * and handed to every later query of that session — the one place graft
  * pins a shared frame, its counterpart of dask-obj's `persist`. The
  * policy, for every caller:
  *
  *  - Keyed by `(session, key)`. `SparkSession` keeps reference equality,
  *    so `newSession()` gets its own entries; entries of stopped sessions
  *    are purged on every access.
  *  - Concurrent first callers share ONE build: a once-only cell goes in
  *    with `putIfAbsent`, so no racer builds a second frame whose cache
  *    would be orphaned. A build that throws leaves no entry.
  *  - [[frame]] persists at `.cache()`'s level (MEMORY_AND_DISK) and
  *    materializes once with `count()`, so every consumer's planner sees
  *    real cache statistics. A hit whose frame is no longer persisted
  *    (`clearCache`, `unpersist`) is rebuilt.
  *  - A build whose plan reads a checkpointed `LogicalRDD` is returned as
  *    is — neither persisted nor memoized: the between-run sweep
  *    ([[Bench.sweep]]) drops checkpoint blocks, after which such a frame
  *    could never be recomputed from a dropped cache.
  *
  * Consequence for timings: later queries of a cache-sharing pack (README
  * "Bench semantics") consume the frame an earlier query built, so their
  * figures — cold ones included — are marginal, not standalone, costs. */
object SessionFrames {

  private final class Cell(build: => Any) { lazy val value: Any = build }

  private val cells = TrieMap[(SparkSession, Any), Cell]()

  /** The value `build` gives for (`s`, `key`), built at most once per live
    * session however many threads ask. */
  def memo[V](s: SparkSession, key: Any)(build: => V): V =
    cached(s, key, build)(_ => true)

  /** [[memo]] for a DataFrame, persisted and materialized once. */
  def frame(s: SparkSession, key: Any)(build: => DataFrame): DataFrame =
    cached(s, key, persisted(build))(_.storageLevel != StorageLevel.NONE)

  private def persisted(df: DataFrame): DataFrame = {
    val readsCheckpoint = df.queryExecution.logical.collectWithSubqueries {
      case r: LogicalRDD if r.rdd.isCheckpointed => r
    }.nonEmpty
    if (!readsCheckpoint) { df.cache(); df.count() }
    df
  }

  /** Serves `key`'s entry while `live` holds for it; a freshly built value
    * that is not live is returned once and dropped, a cached one that no
    * longer is gets rebuilt. */
  private def cached[V](s: SparkSession, key: Any, build: => V)(live: V => Boolean): V = {
    cells.filterInPlace { case ((owner, _), _) => !owner.sparkContext.isStopped }
    val k = (s, key)
    val fresh = new Cell(build)
    val cell = cells.putIfAbsent(k, fresh).getOrElse(fresh)
    val v = try cell.value.asInstanceOf[V]
      catch { case e: Throwable => cells.remove(k, cell); throw e }
    if (live(v)) v
    else {
      cells.remove(k, cell)
      if (cell eq fresh) v else cached(s, key, build)(live)
    }
  }
}
