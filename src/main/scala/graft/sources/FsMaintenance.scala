package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import FsStore.FileRef

/** Table-maintenance verbs for the fs store. COMPACT is the bin-packing
  * OPTIMIZE a streaming sink needs: `writeStream.toTable` accretes one
  * parquet file per epoch per task, and a year of 1-minute micro-batches
  * is half a million tiny files whose per-file open/footer cost eats the
  * scan. `compact` greedily packs small files (per bucket on partitioned
  * tables — the layout survives) into `targetBytes` bins, rewrites each
  * bin in its OWN SPARK TASK (task-side read+write through the same
  * field-id mapping as any scan, so mixed-schema-era bins normalize to
  * the head schema), and installs the swap through
  * [[FsStore.commitRewrite]] — same rows, fewer files, change log EMPTY
  * (consumers, CDF, and epoch high-water marks never notice). Old files
  * serve retained versions' time travel until expiry + vacuum.
  * Masked files are NOT eligible (the rewritten copy would escape its
  * delta mask); compact an fsd table after its masks are applied by a
  * CoW rewrite, or not at all.
  *
  * Every rewrite here writes through the shared task sink of an fs
  * write ([[FsSinks]], driven by [[VersionedWrite.run]]): its files
  * carry the write's job stamp, and a failed task or job deletes them,
  * so a failed rewrite leaves no file behind. */
object FsMaintenance {

  /** One rewrite unit: files of one bucket whose bytes fit one target. */
  private def binPack(files: Vector[FileRef], targetBytes: Long): Vector[Vector[FileRef]] = {
    val bins = Vector.newBuilder[Vector[FileRef]]
    var cur = Vector.empty[FileRef]
    var curBytes = 0L
    files.sortBy(_.bytes).foreach { f =>
      if (cur.nonEmpty && curBytes + f.bytes > targetBytes) {
        if (cur.size >= 2) bins += cur
        cur = Vector.empty; curBytes = 0L
      }
      cur :+= f; curBytes += f.bytes
    }
    if (cur.size >= 2) bins += cur // a 1-file bin is a pointless rewrite
    bins.result()
  }

  /** Compact `name`: returns (files before, files after, bins rewritten).
    * No-op (no version installed) when nothing qualifies. */
  def compact(spark: SparkSession, name: String,
      targetBytes: Long): (Int, Int, Int) = {
    val write = new FsWrite(name)
    val head = write.version
    val eligible = head.files.filter(f =>
      f.bytes < targetBytes &&
        !head.masks.exists(_.version > f.addedVersion))
    // bins never cross a bucket OR a partition value — compaction must
    // not un-earn the layout the clustered/partitioned write paid for
    val bins = eligible.groupBy(f => (f.bucket, f.parts)).toVector
      .sortBy { case ((b, p), _) =>
        (b, p.map(_.map(_.toString).getOrElse("")).mkString(","))
      }
      .flatMap { case (_, fs) => binPack(fs, targetBytes) }
    if (bins.isEmpty) return (head.files.size, head.files.size, 0)
    val lineage: Vector[StructType] = head.lineage
    val schema = head.schema
    val keyIntegral = schema.fields.head.dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // one Spark task per bin: read every bin file mapped by field id to
    // the head schema and stream it into one new file (the sink routes
    // by the head's layout, which every file of a bin shares; zone
    // maps/stats recomputed by the writer); rows never visit the driver
    val binRows = spark.sparkContext.parallelize(bins, bins.size).flatMap { bin =>
      def read(f: FileRef) = {
        val it = FsParquet.read(f.path, lineage(f.schemaId), schema)
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => it.close())
        it
      }
      if (keyIntegral && bin.forall(_.sorted)) {
        // all inputs key-sorted → K-WAY MERGE instead of concatenation:
        // the compacted file stays sorted (the writer observes and
        // re-claims it), so a bucket collapsing to one file KEEPS the
        // reported ordering and the storage-partitioned join stays
        // sort-free after OPTIMIZE — compaction must not un-earn what
        // the clustered write paid for. Sorted inputs hold no NULL
        // keys (a NULL breaks the writer's sorted claim).
        val keyOf: org.apache.spark.sql.catalyst.InternalRow => Long =
          schema.fields.head.dataType match {
            case org.apache.spark.sql.types.IntegerType => _.getInt(0).toLong
            case _ => _.getLong(0)
          }
        var live = bin.map(read(_).buffered).filter(_.hasNext)
        Iterator.continually(live).takeWhile(_.nonEmpty).map { ls =>
          val src = ls.minBy(it => keyOf(it.head))
          val row = src.next() // a fresh row: the reader never reuses one
          if (!src.hasNext) live = ls.filter(_.hasNext)
          row
        }
      } else bin.iterator.flatMap(read)
    }
    VersionedWrite.run(write, binRows, new RowWriterFactory(write.sinks)) { ms =>
      FsStore.commitRewrite(name, bins.flatten, VersionedWrite.units(ms),
        head.schemaId)
    }
    val after = FsStore.current(name)
    (head.files.size, after.files.size, bins.size)
  }

  /** Bits of z-value per dimension: 16 keeps a 3-column interleave
    * inside a long with headroom, and 2^16 cells per axis is far finer
    * than any realistic file count resolves. */
  private val ZBits = 16

  /** Z-ORDER clustering rewrite (Delta's `OPTIMIZE … ZORDER BY`): sort
    * the WHOLE table by the interleaved bits of `cols` and rewrite it as
    * `targetFiles` z-contiguous files, so EVERY clustered column's
    * per-file zone map ([[FsStore.ColStat]]) turns tight at once — a
    * conjunctive box on (a, b) then opens the few files whose z-range
    * the box touches instead of all of them. Linear clustering (sort by
    * a, b) only serves the leading column; the z-curve is what makes
    * manifest stats multi-dimensional at 100 TB.
    *
    * Spark-first: each column is normalized to [0, 2^16) THROUGH THE
    * MANIFEST's global min/max (no data pass), the interleave is a
    * folded bitwise [[Column]] (whole-stage codegen, no UDF), the
    * placement is `repartitionByRange` + `sortWithinPartitions` on the
    * z-value (Spark's range sampler balances file sizes), and the tasks
    * stream rows into fresh parquet files whose writers recompute zone
    * maps/blooms. The swap installs through [[FsStore.commitRewrite]]:
    * NOT a logical change — change log empty, row count preserved, time
    * travel to the pre-rewrite layout intact, old files reclaimed by
    * expiry + vacuum. Same eligibility as [[compact]]: no applicable
    * delta masks (the fresh addedVersion would escape them), and not on
    * bucketed tables (the bucket spec owns file placement there).
    * Normalization is monotone-approximate over doubles — clustering
    * QUALITY depends on it, correctness never does: the oracle reads
    * the same rows wherever they land. Returns (files before, after). */
  def zorder(spark: SparkSession, name: String, cols: Seq[String],
      targetFiles: Int): (Int, Int) = {
    val write = new FsWrite(name)
    val head = write.version
    require(cols.size >= 2,
      s"graft_fs($name): z-order needs ≥2 columns (one column is a plain sort)")
    require(targetFiles >= 1, "targetFiles must be ≥1")
    require(head.masks.isEmpty,
      s"graft_fs($name): cannot z-order under delta masks — the rewritten " +
        "files' fresh addedVersion would escape them; apply masks first")
    require(head.bucketN == 0,
      s"graft_fs($name): bucketed tables own their file placement — " +
        "z-order lives on the unpartitioned flavor")
    require(FsStore.partSpecOf(name).isEmpty,
      s"graft_fs($name): value-partitioned tables own their file " +
        "placement — a whole-table z-order would destroy the layout")
    val fields = cols.map(c => head.schema.fields.find(_.name == c).getOrElse(
      throw new IllegalArgumentException(
        s"graft_fs($name): z-order column $c is not in the schema")))
    fields.foreach(f => require(FsStore.statKind(f.dataType).contains("long"),
      s"graft_fs($name): z-order on ${f.dataType.simpleString} column " +
        s"${f.name} unsupported (integral/timestamp/date columns only)"))
    if (head.files.isEmpty) return (0, 0)
    // global [min, max] per column from the manifest — zero file reads
    val ranges = fields.map { f =>
      val id = FsStore.fieldId(f)
      val sts = head.files.flatMap(_.stats.get(id))
      require(sts.size == head.files.size,
        s"graft_fs($name): every file must carry stats for ${f.name} " +
          "(all-NULL files cannot place on the curve)")
      (sts.map(_.min.asInstanceOf[Long]).min,
        sts.map(_.max.asInstanceOf[Long]).max)
    }

    // a column's value in its "long" STAT-KIND space — the same units
    // the manifest min/max were recorded in (µs for timestamps, days
    // for dates; a bare cast would yield SECONDS for timestamps and is
    // not even legal for dates)
    def statSpace(f: org.apache.spark.sql.types.StructField): Column =
      f.dataType match {
        case org.apache.spark.sql.types.TimestampType => unix_micros(col(f.name))
        case org.apache.spark.sql.types.DateType => unix_date(col(f.name)).cast("long")
        case _ => col(f.name).cast("long")
      }
    // cell coordinate per column: floor((v - min) / span * 2^16), NULLs
    // to cell 0 (they sort first — an arbitrary but stable placement)
    val cells: Seq[Column] = fields.zip(ranges).map { case (f, (mn, mx)) =>
      val span = math.max(1L, mx - mn) + 1L
      val cell = floor((statSpace(f) - lit(mn))
        .cast("double") / lit(span.toDouble) * lit((1L << ZBits).toDouble))
        .cast("long")
      coalesce(least(cell, lit((1L << ZBits) - 1L)), lit(0L))
    }
    // interleave: bit i of column j lands at position i·ncols + j —
    // a folded bitwise expression, fully codegen'd
    val z = (0 until ZBits).foldLeft(lit(0L)) { (acc, i) =>
      cells.zipWithIndex.foldLeft(acc) { case (a, (c, j)) =>
        a.bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
          i * cells.size + j))
      }
    }

    val ordered = spark.table(s"graft.$name")
      .select(head.schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("__z", z)
      .repartitionByRange(targetFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
    // one file per range partition (the table is unbucketed and
    // unpartitioned, so the sink writes exactly one)
    rewriteAll(write, ordered.queryExecution.toRdd, write.sinks, -1)
  }

  /** Write `rows` through `sinks` and install them in place of every
    * file of the write's head (`newBucketN` as in
    * [[FsStore.commitRewrite]]). Returns (files before, files after). */
  private def rewriteAll(write: FsWrite,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      sinks: FsSinks, newBucketN: Int): (Int, Int) = {
    val head = write.version
    val added = VersionedWrite.run(write, rows, new RowWriterFactory(sinks)) { ms =>
      val added = VersionedWrite.units[FileRef](ms)
      FsStore.commitRewrite(sinks.name, head.files, added,
        head.schemaId, newBucketN)
      added
    }
    (head.files.size, added.size)
  }

  /** PARTITION EVOLUTION by rewrite: re-route every row into a NEW
    * bucket count (`newN`; 0 drops the spec) and flip the manifest's
    * partition spec in the same [[FsStore.commitRewrite]] — so a table
    * created unbucketed (or bucketed to the wrong width for today's
    * join partner) EARNS the exchange-free storage-partitioned join
    * without recreating the table or breaking its history: time travel
    * to pre-evolution versions keeps the OLD spec (bucketN is
    * per-version), CDF and epoch marks ride along untouched, and the
    * rewrite is NOT a logical change. Placement is one Spark shuffle
    * (`repartition` on the new bucket expression) with rows key-sorted
    * inside each bucket, so every rewritten file is ALSO key-ASC —
    * the evolved table joins exchange-free AND sort-free immediately.
    * Same eligibility as the other rewrites: no applicable delta masks.
    * Iceberg evolves specs metadata-only and scans old+new layouts
    * side-by-side; this store keeps ONE layout per version instead —
    * the rewrite costs one pass, and every later scan/SPJ plans against
    * a single spec. Returns (files before, files after). */
  def rebucket(spark: SparkSession, name: String, newN: Int): (Int, Int) = {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val write = new FsWrite(name)
    val head = write.version
    require(newN >= 0, "newN must be ≥0 (0 drops the partition spec)")
    require(newN != head.bucketN,
      s"graft_fs($name): table is already bucketed to $newN")
    require(head.masks.isEmpty,
      s"graft_fs($name): cannot rebucket under delta masks — apply them first")
    require(FsStore.partSpecOf(name).isEmpty,
      s"graft_fs($name): value-partitioned tables cannot be rebucketed " +
        "— one partition spec per table")
    val keyField = head.schema.fields.head
    if (newN > 0) require(
      keyField.dataType == LongType || keyField.dataType == IntegerType,
      s"graft_fs($name): bucket partitioning requires an integral first " +
        s"(row-id) column, got ${keyField.dataType.simpleString}")
    if (head.files.isEmpty) { // metadata-only flip for an empty table
      FsStore.commitRewrite(name, Vector.empty, Vector.empty,
        head.schemaId, newN)
      return (0, 0)
    }
    val all = spark.table(s"graft.$name")
      .select(head.schema.fieldNames.map(col).toIndexedSeq: _*)
    // tasks hold whole buckets after the pmod shuffle, and rows arrive
    // bucket-grouped and key-ASC, so the sink writes one file per
    // bucket a task received and each file claims its sorted flag
    val routed =
      if (newN > 0)
        all.repartition(newN, pmod(col(keyField.name).cast("long"), lit(newN.toLong)))
          .sortWithinPartitions(
            pmod(col(keyField.name).cast("long"), lit(newN.toLong)),
            col(keyField.name))
      else all
    rewriteAll(write, routed.queryExecution.toRdd,
      write.sinks.copy(bucketN = newN), newN)
  }
}
