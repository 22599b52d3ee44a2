package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The WRITE half of the custom-connector story (`SynthSource` is the
  * read half): an in-memory DSv2 table with the real two-phase commit
  * protocol, served through [[GraftCatalog]] (`mem_*` identifiers).
  *
  * The protocol itself is [[VersionedWrite]], shared with the file
  * store: tasks buffer their rows and ship them back only inside their
  * commit messages, the driver installs the whole message set as one
  * version, and a failed or aborted job never mutates the store. The
  * heap store supplies only its unit of commit — a row's UnsafeRow
  * bytes ([[MemSinks]]) — and its installs ([[MemWrite]]), all through
  * [[MemStore.install]] (one atomic swap per commit).
  *
  * This is the same protocol a parquet/Iceberg writer runs with files
  * and manifests — reduced to its semantics so the commit/abort
  * behavior itself is testable in-process.
  */
object MemStore extends VersionedStore {
  val tag = "graft_mem"

  /** Capacity gate, the `Components.localThreshold` pattern: the store
    * IS driver memory — that is the point of the sink (the two-phase
    * commit protocol reduced to in-process testable semantics), not an
    * accident, so the bound is explicit and asserted at commit instead
    * of surfacing as a driver OOM mid-install. A production sink at
    * 100 TB keeps this exact protocol but ships FILES in the commit
    * messages (manifest-sized, not row-sized) — rows never visit the
    * driver; this cap marks where the in-memory reduction stops being
    * faithful to that. Commits that would leave a table above the cap
    * are rejected whole (the previous committed version stays). */
  val MaxCommittedRows: Long = 50L * 1000 * 1000

  /** Bounded version history per table (Iceberg's snapshot-expiry
    * reduced to a count): every commit installs a NEW [[MemVersion]]
    * entry instead of replacing the old one, so `VERSION AS OF` reads
    * are consistent snapshots for free — the exact mechanism a file-
    * backed table gets from immutable data files + a manifest list.
    * Version ids stay monotonic after expiry (an expired version is a
    * load-time error, not a silent remap). */
  val MaxVersions: Int = 16

  /** `_change_type` values, the Delta change-data-feed vocabulary. */
  val OpInsert = "insert"
  val OpDelete = "delete"
  val OpUpdatePre = "update_preimage"
  val OpUpdatePost = "update_postimage"

  /** One committed snapshot. `schema` is the table schema AS OF this
    * version (schema evolution installs a version like any other
    * commit); `rows` written under an OLDER schema stay at their
    * commit-time width and readers pad the missing trailing columns
    * with NULL — the Iceberg contract where ALTER is a metadata-only
    * operation and back-fill happens at read, never by rewriting data.
    * `changes` is the commit's change log, recorded AT COMMIT TIME
    * (where the verb is known exactly) rather than re-derived by
    * diffing snapshots: the change-data-feed currency. */
  final case class MemVersion(id: Long, schema: StructType,
      rows: Vector[InternalRow], changes: Vector[(String, InternalRow)],
      tsMs: Long = -1L) {
    /** True iff this commit only appended rows — the precondition for
      * serving it through the plain (non-CDF) change feed. Recorded
      * here once instead of the r7 prefix re-scan of the WHOLE base
      * snapshot per micro-batch (O(committed rows) per batch and
      * dependent on row representation equality). */
    val appendOnly: Boolean = changes.forall(_._1 == OpInsert)
  }

  /** name → version history, newest last. Full-replace swap per commit
    * = atomic visibility for readers; history entries are immutable. */
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, Vector[MemVersion]]()

  def create(name: String, schema: StructType): Unit =
    tables.putIfAbsent(name,
      Vector(MemVersion(0L, schema, Vector.empty, Vector.empty,
        GraftClock.next())))
  def exists(name: String): Boolean = tables.containsKey(name)
  def schemaOf(name: String): StructType = tables.get(name).last.schema
  def rows(name: String): Vector[InternalRow] = tables.get(name).last.rows
  /** Latest committed version id (0 = the empty table at creation). */
  def currentVersion(name: String): Long = tables.get(name).last.id
  /** Oldest version still retained (history is bounded). */
  def oldestVersion(name: String): Long = tables.get(name).head.id

  /** Snapshot lookup of a pinned version; expired/unknown ids fail with
    * the retained range (never a silent remap to another snapshot). */
  def versionAt(name: String, version: Long): MemVersion = {
    val hist = tables.get(name)
    hist.find(_.id == version).getOrElse {
      throw new IllegalArgumentException(
        s"graft_mem($name): no version $version — retained versions are " +
          s"${hist.head.id}..${hist.last.id} (MaxVersions=$MaxVersions)")
    }
  }
  def rowsAt(name: String, version: Long): Vector[InternalRow] =
    versionAt(name, version).rows
  def schemaAt(name: String, version: Long): StructType =
    versionAt(name, version).schema
  def appendOnly(name: String, version: Long): Boolean =
    versionAt(name, version).appendOnly
  def open(name: String, pinnedVersion: Option[Long], delta: Boolean,
      changes: Boolean): Table = new MemTable(name, pinnedVersion, delta, changes)

  /** The heap change log: rows are sized exactly from their UnsafeRow
    * encoding (commits serialize through UnsafeRow; rows of other
    * representations fall back to the schema estimate), and a run of
    * slices is cut into [[MemPartition]] blobs like any snapshot. */
  def feedLog(name: String, cdf: Boolean): FeedLog = new FeedLog {
    private val dataSchema = schemaOf(name)
    private val outSchema =
      if (cdf) MemCdf.withCdfColumns(dataSchema) else dataSchema
    def sliceLen(v: Long): Long = versionAt(name, v).changes.size.toLong
    def rowBytes(v: Long): Long => Long = {
      val changes = versionAt(name, v).changes
      i => changes(i.toInt)._2 match {
        case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
          u.getSizeInBytes.toLong
        case _ => dataSchema.defaultSize.toLong + 8L
      }
    }
    def partitions(slices: Seq[FeedSlice]): Array[InputPartition] =
      MemPartition.split(slices.iterator.flatMap { sl =>
        val (from, until) = (sl.from.toInt, sl.until.toInt)
        if (cdf) MemCdf.changeRows(name, dataSchema, sl.version).slice(from, until)
        else versionAt(name, sl.version).changes.slice(from, until).map(_._2)
      }.toVector, outSchema)
    def readerFactory: PartitionReaderFactory = new MemReaderFactory(outSchema)
  }

  def drop(name: String): Unit = {
    tables.remove(name)
    lastEpoch.keySet.removeIf(_.startsWith(name + "#"))
  }
  /** Live table names (sorted) — the catalog's `SHOW TABLES` surface and
    * the bench harness's between-query sweep both need the inventory. */
  def tableNames: Seq[String] = {
    import scala.jdk.CollectionConverters._
    tables.keySet.asScala.toSeq.sorted
  }

  /** All commits funnel here: derive the next snapshot + its change log
    * from the latest version, append with the next version id, expire
    * past [[MaxVersions]]. If `next` throws mid-derivation, `compute`
    * rethrows and the mapping is left UNCHANGED — a failed commit never
    * exposes a partial version and never burns a version id. `cap` is
    * [[MaxCommittedRows]]; the spec passes a tiny one to force the gate. */
  private[sources] def install(name: String, cap: Long = MaxCommittedRows)(next: MemVersion =>
      (StructType, Vector[InternalRow], Vector[(String, InternalRow)])): Unit =
    tables.compute(name, (_, prev) => {
      val last = prev.last
      val (schema, rows, changes) = next(last)
      requireCapacity(name, rows.size.toLong, cap)
      (prev :+ MemVersion(last.id + 1, schema, rows, changes,
        GraftClock.next()))
        .takeRight(MaxVersions)
    })

  /** `TIMESTAMP AS OF t`: newest RETAINED version whose commit stamp is
    * ≤ t. Only meaningful for histories committed under the injectable
    * [[GraftClock]] — clock-free tables (tsMs = -1 everywhere) refuse,
    * keeping the default history deterministic for the oracle. */
  def versionAsOfTimestamp(name: String, tsMs: Long): Long = {
    val hist = tables.get(name)
    require(hist.last.tsMs >= 0,
      s"graft_mem($name): table has no commit timestamps (written without " +
        "a commit clock) — use VERSION AS OF, or install GraftClock before " +
        "writing")
    hist.reverseIterator.find(v => v.tsMs >= 0 && v.tsMs <= tsMs)
      .map(_.id)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_mem($name): no retained version committed at or before " +
          s"timestamp $tsMs ms (earliest retained is ${hist.head.tsMs})"))
  }

  def commitAppend(name: String, rows: Seq[InternalRow]): Unit =
    install(name)(v => (v.schema, v.rows ++ rows,
      rows.iterator.map((OpInsert, _)).toVector))
  def commitTruncate(name: String, rows: Seq[InternalRow]): Unit =
    install(name)(v => (v.schema, rows.toVector,
      v.rows.iterator.map((OpDelete, _)).toVector ++
        rows.iterator.map((OpInsert, _))))
  /** Row-level delete: keep the survivors, one atomic swap. */
  def commitDelete(name: String, keep: InternalRow => Boolean): Unit =
    install(name)(v => {
      val (kept, removed) = v.rows.partition(keep)
      (v.schema, kept, removed.iterator.map((OpDelete, _)).toVector)
    })
  /** Overwrite-by-filter (`replaceWhere`): drop the matching slice and
    * append the replacement rows in ONE version install — delete and
    * insert can never be observed separately. */
  def commitOverwrite(name: String, drop: InternalRow => Boolean,
      rows: Seq[InternalRow]): Unit =
    install(name)(v => {
      val (removed, kept) = v.rows.partition(drop)
      (v.schema, kept ++ rows,
        removed.iterator.map((OpDelete, _)).toVector ++
          rows.iterator.map((OpInsert, _)))
    })

  /** Delta (merge-on-read) commit: apply per-row DELETE / UPDATE /
    * INSERT operations keyed by the table's row-id column in ONE
    * version install. An update or delete whose id matches no committed
    * row fails the whole commit (the previous version stays) — a delta
    * stream referencing a phantom id means the scan and the write
    * disagree about the snapshot, which must never be papered over.
    * Because the verbs arrive keyed, the change log here carries EXACT
    * update pre/post images — the one commit shape that can. */
  def commitDelta(name: String, keyOf: InternalRow => Any,
      deletes: Seq[Any], updates: Seq[(Any, InternalRow)],
      inserts: Seq[InternalRow]): Unit =
    install(name)(v => {
      val prev = v.rows
      val updateByKey = updates.toMap
      require(updateByKey.size == updates.size,
        s"graft_mem($name): delta commit carries duplicate update ids — " +
          "two updates to one row in a single statement is a rewrite bug")
      val delSet = deletes.toSet
      require(delSet.intersect(updateByKey.keySet).isEmpty,
        s"graft_mem($name): delta commit deletes AND updates the same " +
          "row id(s) — the delete filter would silently swallow the " +
          "update, which is a rewrite bug")
      val present = prev.iterator.map(keyOf).toSet
      val missing = (deletes.iterator ++ updates.iterator.map(_._1))
        .filterNot(present)
      require(missing.isEmpty,
        s"graft_mem($name): delta commit references absent row id(s) " +
          s"${missing.take(3).toSeq.mkString(", ")}")
      val out = Vector.newBuilder[InternalRow]
      val changes = Vector.newBuilder[(String, InternalRow)]
      prev.foreach { r =>
        val k = keyOf(r)
        if (delSet.contains(k)) changes += ((OpDelete, r))
        else updateByKey.get(k) match {
          case Some(nr) =>
            changes += ((OpUpdatePre, r)); changes += ((OpUpdatePost, nr))
            out += nr
          case None => out += r
        }
      }
      inserts.foreach { r => out += r; changes += ((OpInsert, r)) }
      (v.schema, out.result(), changes.result())
    })

  /** Schema evolution, metadata-only (the ALTER TABLE surface): install
    * a new version with the SAME rows and the new schema. Only widening
    * shapes are representable — renames and appended nullable columns —
    * asserted by prefix-type equality; anything else (drop, reorder,
    * type change) would need a data rewrite and is refused upstream.
    * The version's change log is empty (no row changed), so a change
    * feed crossing it delivers an empty slice, and `VERSION AS OF` a
    * pre-ALTER version keeps the OLD schema ([[MemVersion.schema]]). */
  def alterSchema(name: String, expectedBase: StructType,
      newSchema: StructType): Unit =
    install(name)(v => {
      val old = v.schema
      // the ALTER was computed against `expectedBase` OUTSIDE this atomic
      // install; if another ALTER landed in between, applying this one
      // would silently drop that change — compare names AND types and
      // refuse instead (the caller re-reads and retries)
      require(old == expectedBase,
        s"graft_mem($name): concurrent schema change — ALTER was computed " +
          s"against ${expectedBase.simpleString} but the table is now " +
          s"${old.simpleString}; re-read the schema and retry")
      require(newSchema.length >= old.length &&
        old.fields.zip(newSchema.fields).forall {
          case (a, b) => a.dataType == b.dataType
        },
        s"graft_mem($name): schema evolution supports only RENAME COLUMN " +
          s"and ADD COLUMN at the end (got ${old.simpleString} -> " +
          s"${newSchema.simpleString})")
      (newSchema, v.rows, Vector.empty)
    })

  /** STREAMING epoch commit: append `rows` for micro-batch `epochId`
    * exactly once PER WRITER QUERY. Structured Streaming re-delivers a
    * failed epoch's commit under the SAME id on restart, so idempotence
    * here IS the sink's exactly-once contract (the `_spark_metadata`
    * log of a file sink, reduced to a high-water mark). The mark is
    * keyed by (table, queryId) — epoch ids are monotone only WITHIN one
    * query's checkpoint lineage; a table-keyed mark would silently
    * no-op a second query's epoch 0 against the first query's
    * high-water (SourcesSpec pins two writers interleaving). The mark's
    * check, the append install and the mark's advance are one step per
    * (table, query): an install that fails leaves the mark where it
    * was. Returns true iff the epoch committed (false = replay). */
  private val lastEpoch =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  def commitEpoch(name: String, queryId: String, epochId: Long,
      rows: Seq[InternalRow]): Boolean = {
    var committed = false
    lastEpoch.compute(name + "#" + queryId, (_, mark) =>
      if (mark != null && epochId <= mark) mark
      else { commitAppend(name, rows); committed = true; Long.box(epochId) })
    committed
  }

  private def requireCapacity(name: String, wouldBe: Long, cap: Long): Unit =
    require(wouldBe <= cap,
      s"graft_mem($name): commit would install $wouldBe rows > " +
        s"MaxCommittedRows=$cap — the in-memory sink is " +
        "driver-bounded by design; write a file-backed table instead")
}

class MemTable(name: String, pinnedVersion: Option[Long] = None,
    delta: Boolean = false, changes: Boolean = false)
    extends VersionedTable[Array[Byte]](MemStore, name, pinnedVersion, delta, changes)
    with SupportsDelete {
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  /** Row-level DELETE WHERE, the `SupportsDelete` metadata-delete shape:
    * Spark translates the WHERE clause to source [[Filter]]s (the same
    * pushdown currency scans use) and hands the CONJUNCTION here; rows
    * matching every filter are deleted in one atomic store swap — the
    * DSv2 analogue of a partition/file-level delete in parquet/Iceberg,
    * where the condition must be decidable from pushed metadata alone.
    * `canDeleteWhere` admits only filters this table can evaluate
    * EXACTLY (else Spark must not call `deleteWhere` — a partial
    * evaluation would silently delete the wrong rows), and a rejected
    * or failed delete leaves the committed version intact
    * (SourcesSpec pins both). q245 puts the whole path under the
    * DuckDB oracle: delete a deterministic slice, hash the survivors. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    filters.forall(MemFilterEval.supported(_, schema()))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    requireWritable("DELETE from")
    MemStore.commitDelete(name,
      row => !filters.forall(MemFilterEval.eval(_, row, schema())))
  }

  /** Row-level operations on the heap: the copy-on-write group is the
    * whole snapshot and its replacement a truncate-install; the delta
    * flavour's keyed operations apply at commit ([[MemStore.commitDelta]]).
    * q266/q267/q272 put UPDATE and both MERGE flavours under the DuckDB
    * oracle. At 100 TB the same contract holds with file groups — the
    * [[FsTable]] twin. */
  override protected def rowLevelScan(options: CaseInsensitiveStringMap): ScanBuilder =
    newScanBuilder(options)
  override protected def storeWrite(): StoreWrite[Array[Byte]] = new MemWrite(name)

  /** Scan options (Delta's CDF read surface, reduced — the CDF rowset
    * itself is selected by loading the `<table>__changes` relation,
    * because the `_change_type`/`_commit_version` columns must exist on
    * the TABLE schema for analysis; see [[schema]]):
    * [[FeedOptions]]: `startingVersion`, and the streaming row / byte
    * budgets that split a fat commit over several micro-batches. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val cdf = changes
    val feed = FeedOptions(options)
    () => new Scan with Batch with SupportsReportStatistics {
      // one consistent version per scan: the pinned snapshot for a
      // VERSION AS OF relation, else the latest committed version
      private val snapVersion =
        pinnedVersion.getOrElse(MemStore.currentVersion(name))
      private val dataSchema = MemStore.schemaAt(name, snapVersion)
      override def readSchema(): StructType =
        if (cdf) MemCdf.withCdfColumns(dataSchema) else dataSchema
      override def toBatch: Batch = this
      override def description(): String =
        s"MemScan[$name,v=$snapVersion${if (cdf) ",cdf" else ""}]"
      /** Reported statistics (the SynthScan CBO contract on the WRITE-
        * side connector too): exact row count from the snapshot, size
        * from the schema's estimated row width — so a mem dim table
        * under the broadcast threshold auto-broadcasts in a join with
        * NO hint (q283, plan-asserted). A production sink gets the
        * same numbers from its manifest, which is the point: join
        * planning earned from connector metadata, not a scan. */
      override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
        new org.apache.spark.sql.connector.read.Statistics {
          private val n =
            if (cdf) {
              (feed.from(MemStore, name) to snapVersion).iterator
                .map(v => MemStore.versionAt(name, v).changes.size.toLong).sum
            } else MemStore.rowsAt(name, snapVersion).size.toLong
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(
              math.max(1L, n * (readSchema().defaultSize + 8L)))
          override def numRows(): java.util.OptionalLong =
            java.util.OptionalLong.of(n)
        }
      /** Batch CDF (`table_changes`): every retained commit's change
        * rows from `startingVersion` (default: oldest retained). Built
        * on the driver like every other mem read — the store IS driver
        * memory; a file-backed table serves the same rows from change
        * files. */
      override def planInputPartitions(): Array[InputPartition] =
        if (cdf) {
          val from = feed.from(MemStore, name)
          MemStore.versionAt(name, from) // validate: expired → range error
          val rows = (from to snapVersion).iterator.flatMap { v =>
            MemCdf.changeRows(name, dataSchema, v)
          }.toVector
          MemPartition.split(rows, readSchema())
        } else MemPartition.split(MemStore.rowsAt(name, snapVersion), dataSchema)
      override def createReaderFactory(): PartitionReaderFactory =
        new MemReaderFactory(readSchema())

      /** CHANGE-FEED streaming read (`readStream.table`), sized by the
        * exact UnsafeRow bytes of each change row. */
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        feed.feed(MemStore, name, cdf)
    }
  }

  override def truncateTable(): Boolean = {
    requireWritable("TRUNCATE")
    MemStore.commitTruncate(name, Vector.empty); true
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write to")
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var doTruncate = false
      private var replaceWhere: Option[Array[org.apache.spark.sql.sources.Filter]] = None
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      /** Overwrite-by-filter (the Delta `replaceWhere` verb): Spark
        * translates the condition to source filters; only filters
        * [[MemFilterEval]] decides EXACTLY are accepted — a shape the
        * evaluator cannot decide fails HERE, before any write starts,
        * and the committed version stays (SourcesSpec pins it). */
      override def overwrite(filters: Array[org.apache.spark.sql.sources.Filter]): WriteBuilder = {
        require(filters.forall(MemFilterEval.supported(_, schema())),
          s"graft_mem($name): overwrite condition not exactly evaluable: " +
            filters.mkString(", "))
        replaceWhere = Some(filters); this
      }
      override def build(): Write = new VersionedWrite(
        new MemWrite(name, replaceWhere), doTruncate || replaceWhere.isDefined,
        info.queryId())
    }
  }
}

/** Interprets V1 source [[org.apache.spark.sql.sources.Filter]]s against
  * committed [[InternalRow]]s for [[MemTable.deleteWhere]]. Exactness
  * contract: [[supported]] admits a filter iff [[eval]] decides it
  * EXACTLY for every row of the schema — the two are case-aligned, so a
  * shape `supported` admits can never reach `eval`'s fallback throw. */
object MemFilterEval {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types._

  private def field(schema: StructType, name: String): Option[(Int, DataType)] =
    if (!schema.fieldNames.contains(name)) None
    else { val i = schema.fieldIndex(name); Some((i, schema(i).dataType)) }

  private def comparableType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | StringType | BooleanType => true
    case _ => false
  }

  def supported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(a, _) => has(schema, a)
    case EqualNullSafe(a, _) => has(schema, a)
    case GreaterThan(a, _) => has(schema, a)
    case GreaterThanOrEqual(a, _) => has(schema, a)
    case LessThan(a, _) => has(schema, a)
    case LessThanOrEqual(a, _) => has(schema, a)
    case In(a, _) => has(schema, a)
    case IsNull(a) => has(schema, a)
    case IsNotNull(a) => has(schema, a)
    case And(l, r) => supported(l, schema) && supported(r, schema)
    case Or(l, r) => supported(l, schema) && supported(r, schema)
    case Not(c) => supported(c, schema)
    case AlwaysTrue() | AlwaysFalse() => true
    case _ => false // StringContains etc.: refuse, Spark keeps the table intact
  }

  private def has(schema: StructType, a: String): Boolean =
    schema.fieldNames.contains(a) && comparableType(schema(schema.fieldIndex(a)).dataType)

  /** SQL three-valued logic reduced to "does this row get deleted":
    * a NULL comparison is not-true, which for DELETE means keep. */
  def eval(f: Filter, row: InternalRow, schema: StructType): Boolean = f match {
    case EqualTo(a, v) => cmp(get(row, a, schema), v).contains(0)
    case EqualNullSafe(a, v) =>
      val g = get(row, a, schema)
      if (g == null || v == null) g == null && v == null else cmp(g, v).contains(0)
    case GreaterThan(a, v) => cmp(get(row, a, schema), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(get(row, a, schema), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(get(row, a, schema), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(get(row, a, schema), v).exists(_ <= 0)
    case In(a, vs) =>
      val g = get(row, a, schema)
      g != null && vs.exists(v => v != null && cmp(g, v).contains(0))
    case IsNull(a) => get(row, a, schema) == null
    case IsNotNull(a) => get(row, a, schema) != null
    case And(l, r) => eval(l, row, schema) && eval(r, row, schema)
    case Or(l, r) => eval(l, row, schema) || eval(r, row, schema)
    case Not(c) => !eval(c, row, schema)
    case AlwaysTrue() => true
    case AlwaysFalse() => false
    case other => throw new UnsupportedOperationException(
      s"mem delete: unsupported filter $other (canDeleteWhere must have refused)")
  }

  private def get(row: InternalRow, a: String, schema: StructType): Any =
    field(schema, a) match {
      case Some((i, dt)) =>
        // i beyond the row's width = a column ADDED after this row was
        // written (schema evolution): reads back-fill NULL
        if (i >= row.numFields || row.isNullAt(i)) null
        else dt match {
          case LongType => row.getLong(i)
          case IntegerType => row.getInt(i)
          case ShortType => row.getShort(i)
          case ByteType => row.getByte(i)
          case DoubleType => row.getDouble(i)
          case FloatType => row.getFloat(i)
          case StringType => row.getUTF8String(i).toString
          case BooleanType => row.getBoolean(i)
          case other => throw new UnsupportedOperationException(
            s"mem delete: unsupported column type $other")
        }
      case None => throw new IllegalArgumentException(s"mem delete: no column $a")
    }

  /** None = incomparable-because-null (three-valued: the comparison is
    * not true). Numeric widths unify through Long/Double. */
  private def cmp(g: Any, v: Any): Option[Int] = (g, v) match {
    case (null, _) | (_, null) => None
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Double, y: Number) => Some(java.lang.Double.compare(x, y.doubleValue))
    case (x: Float, y: Number) => Some(java.lang.Double.compare(x.toDouble, y.doubleValue))
    case (x: Number, y: java.lang.Double) => Some(java.lang.Double.compare(x.doubleValue, y))
    case (x: Number, y: java.lang.Float) => Some(java.lang.Double.compare(x.doubleValue, y.doubleValue))
    case (x: Number, y: Number) => Some(java.lang.Long.compare(x.longValue, y.longValue))
    case (x, y) => throw new UnsupportedOperationException(
      s"mem delete: incomparable ${x.getClass.getSimpleName} vs ${y.getClass.getSimpleName}")
  }
}

/** A task-parallel slice of a snapshot, shipped as ONE byte blob plus
  * per-row (offset, length, width) — the in-memory store's "data
  * file". The previous shape (a `Vector[InternalRow]`) Java-serialized
  * every row OBJECT into the task binary: at the 10M-row smoke scale
  * that was ~11 s/micro-batch of driver-side serialization and "large
  * task binary" warnings; a blob ships as one array copy. `widths`
  * varies per row only across schema evolution (rows keep their
  * commit-time width; readers pad). */
case class MemPartition(blob: Array[Byte], offsets: Array[Int],
    lengths: Array[Int], widths: Array[Int]) extends InputPartition

object MemPartition {
  import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}

  /** Split into slices of ~32k rows, at most 16 (past the session's
    * core count more slices only add scheduling overhead; a single
    * slice ran a 600k-row scan as ONE task — measured 1.2 s/batch).
    * Rows are UnsafeRow after any commit (writers serialize through
    * UnsafeRow bytes); store-API rows of other representations are
    * projected using the matching PREFIX of `schema` (evolution only
    * appends columns, so a width-w row's types are schema's first w). */
  def split(rows: Seq[InternalRow], schema: StructType): Array[InputPartition] = {
    if (rows.isEmpty) return Array.empty
    val target = 32768
    val n = math.max(1, math.min(16, (rows.size + target - 1) / target))
    val per = math.max(1, (rows.size + n - 1) / n)
    val projCache = scala.collection.mutable.Map[Int, UnsafeProjection]()
    def unsafeOf(r: InternalRow): UnsafeRow = r match {
      case u: UnsafeRow => u
      case other => projCache.getOrElseUpdate(other.numFields,
        UnsafeProjection.create(
          StructType(schema.fields.take(other.numFields))))(other)
    }
    rows.grouped(per).map { chunk =>
      val offsets = new Array[Int](chunk.size)
      val lengths = new Array[Int](chunk.size)
      val widths = new Array[Int](chunk.size)
      val bos = new java.io.ByteArrayOutputStream(chunk.size * 32)
      // single pass, bytes copied out IMMEDIATELY: UnsafeProjection
      // reuses its output buffer, so holding projected rows across
      // iterations would alias every one to the last
      var i = 0
      chunk.foreach { r =>
        val u = unsafeOf(r)
        offsets(i) = bos.size()
        lengths(i) = u.getSizeInBytes
        widths(i) = u.numFields
        bos.write(u.getBytes)
        i += 1
      }
      MemPartition(bos.toByteArray, offsets, lengths, widths): InputPartition
    }.toArray
  }
}

/** Shared row reader over a [[MemPartition]]: zero-copy `UnsafeRow`
  * views into the blob (buffer reused across rows — the standard
  * PartitionReader contract), padding rows written under an OLDER
  * schema (fewer trailing columns) with NULLs up to the scan schema —
  * the read-side half of metadata-only ALTER TABLE. */
class MemReaderFactory(schema: StructType) extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.expressions.UnsafeRow
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val mp = p.asInstanceOf[MemPartition]
      private val types = schema.fields.map(_.dataType)
      private var i = -1
      private var ur: UnsafeRow = _
      private def pad(r: InternalRow): InternalRow =
        if (r.numFields == types.length) r
        else if (r.numFields > types.length)
          // a row WIDER than the scan schema: the stream's dataSchema is
          // fixed at start, so a mid-stream ALTER + append produced rows
          // this reader cannot map; fail with the contract instead of an
          // ArrayIndexOutOfBounds (CDF mode documents the same
          // fixed-at-start contract and truncates typed change rows)
          throw new IllegalStateException(
            s"mem read: row has ${r.numFields} fields but the scan schema " +
              s"has ${types.length} — the table schema evolved after this " +
              "stream started (dataSchema is fixed at start); restart the " +
              "stream to pick up the widened schema")
        else {
          val g = new GenericInternalRow(types.length)
          var j = 0
          while (j < r.numFields) { g.update(j, r.get(j, types(j))); j += 1 }
          g // trailing slots stay null: columns added after this row
        }
      override def next(): Boolean = { i += 1; i < mp.offsets.length }
      override def get(): InternalRow = {
        val w = mp.widths(i)
        if (ur == null || ur.numFields != w) ur = new UnsafeRow(w)
        ur.pointTo(mp.blob,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + mp.offsets(i),
          mp.lengths(i))
        pad(ur)
      }
      override def close(): Unit = ()
    }
}

/** Builds the `_change_type`-typed rows a CDF read serves. */
object MemCdf {
  def withCdfColumns(dataSchema: StructType): StructType =
    StructType(dataSchema.fields ++ Array(
      StructField("_change_type", StringType, nullable = false),
      StructField("_commit_version", LongType, nullable = false)))

  /** Version `v`'s change log as full-width CDF rows: commit-time data
    * columns padded to `dataSchema`, then the op tag and version id. */
  def changeRows(name: String, dataSchema: StructType,
      v: Long): Vector[InternalRow] = {
    val types = dataSchema.fields.map(_.dataType)
    MemStore.versionAt(name, v).changes.map { case (op, r) =>
      val g = new GenericInternalRow(types.length + 2)
      var i = 0
      while (i < math.min(r.numFields, types.length)) {
        g.update(i, r.get(i, types(i))); i += 1
      }
      g.update(types.length, UTF8String.fromString(op))
      g.update(types.length + 1, v)
      g: InternalRow
    }
  }
}

/** The heap store's task half: each sink buffers its rows as UnsafeRow
  * bytes (row ids alone for a delta's id sinks). */
final case class MemSinks(schema: StructType) extends UnitSinks[Array[Byte]] {
  def rows(pid: Int, epoch: Long): UnitSink[Array[Byte]] = sink(schema)
  def delta(kind: String, ids: Boolean, pid: Int): UnitSink[Array[Byte]] =
    sink(if (ids) StructType(Seq(schema.fields.head)) else schema)
  private def sink(st: StructType): UnitSink[Array[Byte]] = new UnitSink[Array[Byte]] {
    private val proj = UnsafeProjection.create(st)
    private val buf = Vector.newBuilder[Array[Byte]]
    def write(row: InternalRow): Unit = {
      val u = proj(row)
      val bytes = new Array[Byte](u.getSizeInBytes)
      u.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
      buf += bytes
    }
    def finish(): IterableOnce[Array[Byte]] = buf.result()
    def abort(): Unit = buf.clear()
  }
}

/** The heap store's driver half: units decode with the schema the tasks
  * wrote under (pinned when the write is built, so an ALTER landing
  * between the tasks and the commit cannot change how their bytes
  * read), and every commit shape installs through [[MemStore.install]],
  * whose [[MemStore.MaxCommittedRows]] gate covers them all. A truncate
  * with `replaceWhere` filters is the overwrite-by-filter install. */
final class MemWrite(name: String,
    replaceWhere: Option[Array[org.apache.spark.sql.sources.Filter]] = None)
    extends StoreWrite[Array[Byte]] {
  val sinks: MemSinks = MemSinks(MemStore.schemaOf(name))
  private val schema = sinks.schema
  private def rows(units: Vector[Array[Byte]],
      width: Int = schema.length): Vector[InternalRow] =
    units.iterator.map { b =>
      val r = new UnsafeRow(width)
      r.pointTo(b, b.length)
      r: InternalRow
    }.toVector
  def append(units: Vector[Array[Byte]]): Unit = MemStore.commitAppend(name, rows(units))
  def truncate(units: Vector[Array[Byte]]): Unit = replaceWhere match {
    case Some(fs) => MemStore.commitOverwrite(name,
      row => fs.forall(MemFilterEval.eval(_, row, schema)), rows(units))
    case None => MemStore.commitTruncate(name, rows(units))
  }
  def epoch(queryId: String, epochId: Long, units: Vector[Array[Byte]]): Boolean =
    MemStore.commitEpoch(name, queryId, epochId, rows(units))
  def delta(m: DeltaMessage[Array[Byte]]): Unit = {
    val idType = schema.fields.head.dataType
    val key = (r: InternalRow) => r.get(0, idType)
    MemStore.commitDelta(name, key, rows(m.deletes, 1).map(key),
      rows(m.updateIds, 1).map(key).zip(rows(m.updates)), rows(m.inserts))
  }
}
