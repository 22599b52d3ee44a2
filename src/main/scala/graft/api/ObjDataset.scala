package graft.api

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.graftext.Bridge
import org.apache.spark.storage.StorageLevel
import scala.reflect.ClassTag

/** Typed distributed object collection — the `DaskObjects` analog
  * (/root/reference/src/dask_obj/core.py:34-108) rebuilt on
  * `Dataset[T]`.
  *
  * Design decisions vs the reference (SURVEY.md §7 quirk list):
  *  - laziness: transformations stay lazy until an action, exactly like the
  *    reference's Bag graph (`core.py:84-88`); Catalyst/Tungsten replace
  *    dask's cull+fuse.
  *  - partitioning is NOT sticky (reference re-repartitions every derived
  *    collection, core.py:49-56 — an anti-pattern at scale). A collection
  *    built from local items has the slices [[ObjDataset.apply]] cut;
  *    a derived one has whatever Spark/AQE chooses; `repartition` is
  *    explicit.
  *  - `map(f, args…)` always passes the item FIRST (the reference's delayed
  *    path curries item-last, core.py:139-144 — quirk Q1, fixed).
  *  - `counts`/`frequencies` (core.py:107-108) is a distributed groupBy
  *    count that collects only the final (value → count) map — never a
  *    driver-side Counter merge.
  */
final class ObjDataset[T](val ds: Dataset[T]) {

  private def wrap[U](other: Dataset[U]): ObjDataset[U] = new ObjDataset(other)

  // ---- core lazy transforms (core.py:62-96) ----

  /** Elementwise function map — `objs.map(f)` (core.py:78-82). */
  def map[U: Encoder](f: T => U): ObjDataset[U] = wrap(ds.map(f))

  /** Elementwise map with extra args, item first (fixes quirk Q1). */
  def map[U: Encoder, A](f: (T, A) => U, arg: A): ObjDataset[U] =
    wrap(ds.map(x => f(x, arg)))

  /** Attribute projection `objs.foo` — supply the accessor as a function;
    * for the relational (schema'd) path use [[DynDataset]] which lowers to
    * a Catalyst column projection instead. */
  def attr[U: Encoder](get: T => U): ObjDataset[U] = map(get)

  /** Method-call projection `objs.call("m", args…)` (core.py:74-76). */
  def call[U: Encoder](invoke: T => U): ObjDataset[U] = map(invoke)

  def filter(p: T => Boolean): ObjDataset[T] = wrap(ds.filter(p))

  /** One level of nesting concatenated — `flatten` (core.py:93-96). */
  def flatten[U: Encoder](implicit ev: T => IterableOnce[U]): ObjDataset[U] =
    wrap(ds.flatMap(x => ev(x)))

  def flatMap[U: Encoder](f: T => IterableOnce[U]): ObjDataset[U] = wrap(ds.flatMap(f))

  /** Per-partition imperative escape hatch (`bag.map_partitions`). */
  def mapPartitions[U: Encoder](f: Iterator[T] => Iterator[U]): ObjDataset[U] =
    wrap(ds.mapPartitions(f))

  // ---- partitioning ----

  def repartition(n: Int): ObjDataset[T] = wrap(ds.repartition(n))
  def coalesce(n: Int): ObjDataset[T] = wrap(ds.coalesce(n))
  def npartitions: Int = ds.rdd.getNumPartitions

  // ---- actions / materialization (core.py:84-91) ----

  /** Trigger execution — `.compute()`. */
  def compute(): Seq[T] = ds.collect().toSeq

  /** `.compute(flatten=True)` variant (core.py:84-88). */
  def computeFlatten[U](implicit ev: T => IterableOnce[U]): Seq[U] =
    ds.collect().iterator.flatMap(x => ev(x)).toSeq

  /** Materialize in cluster memory, stay lazy-shaped — `persist` (core.py:90-91). */
  def persist(): ObjDataset[T] = { ds.persist(StorageLevel.MEMORY_AND_DISK); this }
  def unpersist(): ObjDataset[T] = { ds.unpersist(); this }

  def take(k: Int): Seq[T] = ds.take(k).toSeq

  /** Number of items — `bag.count`'s shape: each partition's size, summed
    * on the driver, in one narrow job. `Dataset.count` is a global
    * aggregate that AQE runs as a shuffle-map job plus a result job. The
    * empty projection keeps column pruning, and a persisted collection's
    * cache serves the scan. */
  def count(): Long = {
    val qe = ds.select().queryExecution
    SQLExecution.withNewExecutionId(qe, Some("count"))(qe.toRdd.count())
  }

  // ---- reductions (core.py:104-108) ----

  /** Tree reduction: per-partition fold + combine — `reduction(perpartition,
    * aggregate)` (core.py:104-105 → bag.reduction). Uses treeReduce so
    * the combine is O(log n) depth, not a driver fan-in. `splitEvery`
    * mirrors the reference's fan-in kwarg (core.py:104-105, dask default
    * 8): combine depth = ceil(log_splitEvery(npartitions)). */
  def reduction[U: ClassTag](perPartition: Iterator[T] => U, combine: (U, U) => U, zero: U,
                             splitEvery: Int = 8): U = {
    val parts = ds.rdd.mapPartitions(it => Iterator.single(perPartition(it)))
    val depth = math.max(1,
      math.ceil(math.log(math.max(parts.getNumPartitions, 2).toDouble) /
        math.log(math.max(splitEvery, 2).toDouble)).toInt)
    // `zero` is the empty-collection fallback ONLY (dask returns the
    // default on an empty bag); it is deliberately NOT folded into every
    // partition (treeAggregate-style), which would change results for
    // non-identity zeros.
    try parts.treeReduce(combine, depth)
    catch { case _: UnsupportedOperationException => zero }
  }

  /** Distributed frequency count — `counts`/`frequencies` (core.py:107-108).
    * groupBy(value).count() executor-side; only the final small map is
    * collected. */
  def counts()(implicit enc: Encoder[T], enc2: Encoder[(T, Long)]): Map[T, Long] =
    ds.groupByKey(identity).count().collect().toMap

  /** Distinct values (`bag.distinct`). */
  def distinct(): ObjDataset[T] = wrap(ds.distinct())

  /** `bag.distinct(key=…)` — one representative per key. dask keeps an
    * ARBITRARY element per key (dict-insert order per partition, then
    * merge); here the representative is deterministic per partition
    * (first by partition iteration order) via reduceGroups — one shuffle
    * on the key, map-side pre-reduction, no value-list materialization. */
  def distinct[K: Encoder](key: T => K)(implicit et: Encoder[T], ekt: Encoder[(K, T)]): ObjDataset[T] =
    wrap(ds.groupByKey(key).reduceGroups((a: T, _: T) => a).map(_._2))

  /** Top-k by an ordering (`bag.topk`) — per-partition top-k then merge,
    * never a global sort. */
  def topk(k: Int)(implicit ord: Ordering[T]): Seq[T] =
    ds.rdd.top(k)(ord).toSeq

  /** Elementwise binary op lift — the engine-side analog of the 35-dunder
    * table (core.py:187-220): `objs.lift(_ + 1)`. Comparison ops return
    * collections of Booleans, not a Boolean (Column semantics). */
  def lift[U: Encoder](op: T => U): ObjDataset[U] = map(op)

  // ---- gateway tier [G] (dask.bag public API via core.py:62-66) ----

  /** `bag.remove(pred)` — complement of filter. */
  def remove(p: T => Boolean): ObjDataset[T] = filter(x => !p(x))

  /** `db.concat` — append another collection. */
  def union(other: ObjDataset[T]): ObjDataset[T] = wrap(ds.union(other.ds))

  /** `bag.product(other)` — cross product. Broadcast nested-loop when one
    * side is small; bound the small side or this is quadratic by nature. */
  def product[U](other: ObjDataset[U])(implicit enc: Encoder[(T, U)]): ObjDataset[(T, U)] =
    wrap(ds.joinWith(other.ds, org.apache.spark.sql.functions.lit(true), "cross")
      .as[(T, U)])

  /** `bag.join(other, on_self, on_other)` — equi-join via key extraction.
    * The reference materializes + broadcasts `other` (core.py gateway /
    * dask bag.join); Spark's planner broadcasts automatically when the
    * side is small, and falls back to a shuffled hash/sort-merge join when
    * it isn't — strictly more scalable than the reference's
    * always-broadcast. */
  def join[U, K](other: ObjDataset[U])(thisKey: T => K, otherKey: U => K)(
      implicit e1: Encoder[(K, T)], e2: Encoder[(K, U)], e3: Encoder[(T, U)]): ObjDataset[(T, U)] = {
    val a = ds.map(t => (thisKey(t), t))
    val b = other.ds.map(u => (otherKey(u), u))
    wrap(a.joinWith(b, a("_1") === b("_1"), "inner").map { case ((_, t), (_, u)) => (t, u) })
  }

  /** `bag.groupby(key)` — (key, all values) groups. Full shuffle of every
    * element; prefer [[foldby]] (partial aggregation) wherever the
    * downstream is a reduction — same guidance as the dask docs. */
  def groupby[K](key: T => K)(implicit ek: Encoder[K], ekl: Encoder[(K, Seq[T])]): ObjDataset[(K, Seq[T])] =
    wrap(ds.groupByKey(key).mapGroups((k, it) => (k, it.toSeq)))

  /** `bag.foldby(key, binop, initial, combine)` — per-partition fold +
    * combine (map-side partial aggregation, the scalable groupby). */
  def foldby[K: ClassTag, B: ClassTag](key: T => K, zero: B)(seqOp: (B, T) => B, combOp: (B, B) => B)(
      implicit enc: Encoder[(K, B)], ctT: ClassTag[T]): ObjDataset[(K, B)] =
    wrap(ds.sparkSession.createDataset(
      ds.rdd.map(t => (key(t), t)).aggregateByKey(zero)(seqOp, combOp)))

  /** `bag.starmap(f)` — apply f to each element UNPACKED as its
    * arguments: the Scala form takes T as a Product-shaped element and a
    * function over it (tuple unpacking is the caller's `case` lambda;
    * Scala has no runtime splat). */
  def starmap[U: Encoder](f: T => U): ObjDataset[U] = map(f)

  /** `db.zip(b1, b2)` — elementwise pairing of equal-length collections.
    * dask zips PARTITION-wise (requires aligned partitioning, core dask
    * bag semantics); Spark's zip has the same same-partitioning
    * same-cardinality contract, surfaced via RDD.zip. */
  def zip[U](other: ObjDataset[U])(implicit enc: Encoder[(T, U)],
      ctT: ClassTag[T], ctU: ClassTag[U]): ObjDataset[(T, U)] =
    wrap(ds.sparkSession.createDataset(ds.rdd.zip(other.ds.rdd)))

  /** `bag.random_sample(prob, random_state)`. */
  def randomSample(fraction: Double, seed: Long = 42L): ObjDataset[T] =
    wrap(ds.sample(withReplacement = false, fraction, seed))

  /** `bag.accumulate(binop)` — ordered prefix scan across partitions:
    * pass 1 computes per-partition totals (tiny driver exchange, one value
    * per partition), pass 2 scans each partition locally with its offset.
    * Two narrow passes, no shuffle. */
  def accumulate(zero: T)(op: (T, T) => T)(implicit enc: Encoder[T], ct: ClassTag[T]): ObjDataset[T] = {
    val rdd = ds.rdd
    val partTotals = rdd.mapPartitionsWithIndex { (i, it) =>
      Iterator.single(i -> it.foldLeft(zero)(op))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = partTotals.scanLeft(zero)(op) // offsets(i) = fold of partitions < i
    val scanned = rdd.mapPartitionsWithIndex { (i, it) =>
      it.scanLeft(offsets(i))(op).drop(1)
    }
    wrap(ds.sparkSession.createDataset(scanned))
  }

  // ---- scalar aggregations (bag.sum/count/min/max/mean/var/std) ----
  // These stay on `ds.rdd`: measured on 10,000 objects, a Dataset-native
  // `mapPartitions` moments doubled the driver time per call, a typed
  // `Aggregator` adds one more AQE job, and `treeReduce` is what keeps
  // `reduction`'s `splitEvery` depth.

  def sum(implicit num: Numeric[T], ct: ClassTag[T]): T =
    reduction[T](it => it.foldLeft(num.zero)(num.plus), num.plus, num.zero)

  def min()(implicit ord: Ordering[T]): T = ds.rdd.min()
  def max()(implicit ord: Ordering[T]): T = ds.rdd.max()

  private var momentsMemo: Option[(Long, Double, Double)] = None

  /** One-pass (n, Σx, Σx²) moments → mean/variance/stddev, run once per
    * instance: `mean` then `variance` of one collection is one pass. */
  private def moments(implicit num: Numeric[T]): (Long, Double, Double) = synchronized {
    if (momentsMemo.isEmpty) momentsMemo = Some(ds.rdd.mapPartitions { it =>
      var n = 0L; var s = 0.0; var s2 = 0.0
      it.foreach { t => val x = num.toDouble(t); n += 1; s += x; s2 += x * x }
      Iterator.single((n, s, s2))
    }.reduce { case ((n1, s1, q1), (n2, s2, q2)) => (n1 + n2, s1 + s2, q1 + q2) })
    momentsMemo.get
  }

  def mean(implicit num: Numeric[T]): Double = { val (n, s, _) = moments; s / n }
  def variance(implicit num: Numeric[T]): Double = {
    val (n, s, s2) = moments; (s2 - s * s / n) / n // population var, as dask
  }
  def stddev(implicit num: Numeric[T]): Double = math.sqrt(variance)

  /** `bag.to_dataframe` — drop to the relational surface. */
  def toDF: org.apache.spark.sql.DataFrame = ds.toDF()

  override def toString: String = s"ObjDataset(${ds.schema.simpleString})"
}

object ObjDataset {
  /** Wrap a local sequence (`DaskObjects(items, npartitions=N)`,
    * core.py:45-57).
    *
    * Each item is encoded once into an `UnsafeRow`; the rows are
    * `parallelize`d into `npartitions` slices, in item order, behind a
    * `LogicalRDD` leaf. The leaf states the rows' exact byte size and
    * count, so a small collection still broadcasts as a join side, and no
    * optimizer rule walks the rows the way they walk a `LocalRelation`'s.
    * `npartitions` defaults to `min(items, spark.sql.leafNodeDefaultParallelism)`
    * slices, as Spark's own local scan cuts them — NOT the reference's
    * one-element-per-partition (core.py:56), which would be 10^11 tasks at
    * 100 TB. An empty `items` is a 0-partition leaf whatever
    * `npartitions` says, so `reduction` returns its `zero`. */
  def apply[T: Encoder](spark: SparkSession, items: Seq[T], npartitions: Option[Int] = None): ObjDataset[T] =
    new ObjDataset(encoded(spark, items, npartitions))

  /** Wrap an existing Dataset (the `items: db.Bag` constructor path). */
  def from[T](ds: Dataset[T]): ObjDataset[T] = new ObjDataset(ds)

  /** Driver-local items as a typed Dataset over a `LogicalRDD` leaf — see
    * [[apply]]; [[DynDataset.fromAny]] builds its rows the same way. */
  private[api] def encoded[T: Encoder](spark: SparkSession, items: Seq[T],
                                       npartitions: Option[Int]): Dataset[T] = {
    val enc = encoderFor[T]
    val toRow = enc.createSerializer()
    val rows = items.iterator.map(toRow(_).copy()).toVector
    val sc = spark.sparkContext
    val rdd: RDD[InternalRow] =
      if (rows.isEmpty) sc.emptyRDD[InternalRow]
      else sc.parallelize(rows, npartitions.getOrElse(math.min(rows.size,
        spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").fold(sc.defaultParallelism)(_.toInt))))
    val stats = Statistics(
      sizeInBytes = rows.iterator.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum,
      rowCount = Some(rows.size))
    Bridge.dataset[T](spark,
      LogicalRDD(DataTypeUtils.toAttributes(enc.schema), rdd)(Bridge.session(spark), Some(stats)))
  }
}
