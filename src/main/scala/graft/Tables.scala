package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader for the driver-generated TPC-H-ish star schema
  * (see TESTDATA.md). One parquet file per table under
  * `\$dir/<name>.parquet`.
  *
  * Scale notes: `spark.read.parquet` gives the vectorized Parquet reader,
  * predicate pushdown and column pruning for free — callers should filter
  * and select as early as possible so Catalyst pushes both into the scan.
  *
  * Schema memo: Spark's parquet schema inference runs a distributed job
  * on every read, even of a single file, so each table's inferred
  * `StructType` is kept in a [[SessionFrames.memo]] entry and later reads
  * pass it to the reader, which then starts no job. The entry is keyed by
  * the path, the path's length and modification time (one Hadoop
  * `getFileStatus`: a file rewritten in place is inferred again) and the
  * session's `spark.sql.parquet.*` / `spark.sql.legacy.parquet.*` confs,
  * which inference depends on (`nanosAsLong`, which [[events]] sets). A
  * directory table is re-inferred when its entries change, not when a
  * file inside it is rewritten under the same name. Only the schema is
  * kept: data, file listings and plans are never cached, and every read
  * is a new DataFrame with fresh attribute ids, so self-joins resolve.
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** The parquet schema of `path`, inferred once per session and file
    * version (see the object doc). A path whose status cannot be read is
    * inferred unmemoized, so Spark raises its own error for it. */
  private def schemaOf(s: SparkSession, path: String): StructType = {
    def infer: StructType = s.read.parquet(path).schema
    val p = new org.apache.hadoop.fs.Path(path)
    scala.util.Try(p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p)).fold(
      _ => infer,
      st => {
        val confs = s.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
        }
        SessionFrames.memo(s, ("parquetSchema", path, st.getLen, st.getModificationTime, confs))(infer)
      })
  }

  def region(s: SparkSession, d: String): DataFrame    = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = apply(s, d, "lineitem")

  /** Schema-adaptive read of `events` — the driver has shipped `ts` as
    * BOTH physical types across rounds (nanosecond INT64 in r1–r4 data,
    * `timestamp[us]` since 2026-08-13), so the reader branches on what the
    * parquet footer actually says instead of assuming either. Both
    * branches present the same logical schema to every consumer:
    *   - `ts_ns`  BIGINT — exact epoch nanoseconds (range/order logic)
    *   - `ts`     TimestampType (µs) — for window/date functions
    *
    * ns INT64 path: needs `spark.sql.legacy.parquet.nanosAsLong` (Spark's
    * TimestampType is µs and cannot hold nanos); the flag must stay set
    * until the scan executes, so it is only restored on the µs branch
    * (where the scan never consults it).
    *
    * µs path: Spark 4 infers parquet `isAdjustedToUTC=false` timestamps as
    * TIMESTAMP_NTZ; the session timezone is pinned to UTC everywhere
    * (SparkEntry.session and specs), so the cast to TimestampType is value-preserving
    * and `unix_micros` matches DuckDB's `epoch_us(ts)` exactly. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = s.conf.getOption(flag)
    s.conf.set(flag, "true")
    val raw = apply(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case _ =>
        prev.fold(s.conf.unset(flag))(s.conf.set(flag, _))
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Round-robin a frame to `defaultParallelism` partitions when it has
    * fewer — for pipelines whose per-row compute (md5-bridge hashing,
    * tokenization, codecs, edit-distance kernels) dominates the scan.
    * The bench tables are single-file, SINGLE-ROW-GROUP parquet, so every
    * scan is one task and everything narrow above it runs on one core
    * until the first exchange (measured r12: q167's three lineitem
    * passes, each with an md5 per row, serialized end-to-end). The
    * exchange moves only the projected columns — callers select the
    * needed columns FIRST (guide §2.3/§8: shuffle the small rows, then
    * compute). No-op on inputs that already have enough partitions (real
    * multi-file tables at scale). */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
  }

  /** Best-effort recursive delete of a query's scratch dir (checkpoints,
    * staged stream sources) so repeated bench/verify runs don't leak temp
    * space. Never throws — cleanup must not fail the query it follows. */
  def deleteRecursively(f: java.io.File): Unit = {
    try {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
      f.delete(): Unit
    } catch { case scala.util.control.NonFatal(_) => }
  }
}
