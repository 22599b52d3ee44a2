package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What the two versioned stores share: [[MemStore]] keeps committed
  * rows on the heap, [[FsStore]] keeps parquet files under manifests,
  * and both install every commit as one new immutable version. The
  * table front ([[VersionedTable]]), the change feed ([[ChangeFeed]]),
  * the two-phase write ([[VersionedWrite]]) and [[GraftCatalog]]'s
  * dispatch are written once over this. */
trait VersionedStore {
  /** `graft_mem` / `graft_fs`: the prefix of every relation name and
    * error a table of this store reports. */
  def tag: String
  def exists(name: String): Boolean
  def schemaOf(name: String): StructType
  /** The schema as of `version`; an expired or unknown version fails
    * with the retained range. */
  def schemaAt(name: String, version: Long): StructType
  def currentVersion(name: String): Long
  def oldestVersion(name: String): Long
  /** True iff the commit that made `version` only appended rows. */
  def appendOnly(name: String, version: Long): Boolean
  def versionAsOfTimestamp(name: String, tsMs: Long): Long
  def drop(name: String): Unit
  /** The table relation: pinned to a version, the merge-on-read (`d`)
    * flavour, and/or the `__changes` change-data-feed relation. */
  def open(name: String, pinnedVersion: Option[Long], delta: Boolean,
      changes: Boolean): Table
  /** `name`'s change log as a [[ChangeFeed]] reads it, pinned at stream
    * start. */
  def feedLog(name: String, cdf: Boolean): FeedLog
}

/** What differs between the stores' change feeds: a version's slice
  * length, how its rows are sized for the byte budget, and the input
  * partitions for a run of slices. Everything else is [[ChangeFeed]]'s. */
trait FeedLog {
  /** Change rows in version `v`'s log. */
  def sliceLen(v: Long): Long
  /** Byte size of version `v`'s change row at a position. */
  def rowBytes(v: Long): Long => Long
  def partitions(slices: Seq[FeedSlice]): Array[InputPartition]
  def readerFactory: PartitionReaderFactory
}

/** Change rows `[from, until)` of version `version`. */
final case class FeedSlice(version: Long, from: Long, until: Long)

/** (version, position-within-version) offset for the change feed:
  * versions `< version` are fully delivered, plus the first `pos`
  * change rows of `version` itself. */
final case class FeedOffset(version: Long, pos: Long) extends Offset {
  override def json(): String = s"$version:$pos"
}
object FeedOffset {
  /** `label` names the table whose checkpoint holds `json`. */
  def parse(json: String, label: String): FeedOffset =
    json.split(":", 2) match {
      case Array(v, p) => FeedOffset(v.toLong, p.toLong)
      case _ =>
        // a checkpoint from the pre-(version:pos) offset format: the old
        // single number meant "version fully delivered", but the slice
        // length it implied is not recoverable here — refuse with the
        // incompatibility spelled out instead of an opaque MatchError
        throw new IllegalStateException(
          s"$label change feed: offset '$json' uses the legacy single-number " +
            "format; this checkpoint predates (version:pos) offsets — " +
            "restart the stream from a fresh checkpoint")
    }
}

/** The read options both stores' scans take: `startingVersion` (the
  * first version a change read serves; default the oldest retained) and
  * the feed's per-batch `maxRowsPerBatch` / `maxBytesPerBatch` budgets
  * (default unbounded). */
final case class FeedOptions(startingVersion: Option[Long],
    maxRowsPerBatch: Long, maxBytesPerBatch: Long) {
  def from(store: VersionedStore, name: String): Long =
    startingVersion.getOrElse(store.oldestVersion(name))
  def feed(store: VersionedStore, name: String, cdf: Boolean): ChangeFeed =
    new ChangeFeed(store, name, cdf, startingVersion, maxRowsPerBatch,
      maxBytesPerBatch)
}
object FeedOptions {
  def apply(options: CaseInsensitiveStringMap): FeedOptions = {
    def budget(k: String) = Option(options.get(k)).map(_.toLong).getOrElse(Long.MaxValue)
    FeedOptions(Option(options.get("startingVersion")).map(_.toLong),
      budget("maxRowsPerBatch"), budget("maxBytesPerBatch"))
  }
}

/** The change feed of a versioned table (`readStream.table`): offsets
  * are (version, position) pairs over the per-commit change logs — the
  * version history doubling as a change log (Delta's change-data-feed
  * shape). New readers start at the OLDEST RETAINED version (history
  * expiry must not brick fresh consumers that only want what is still
  * retained), or at an explicit `startingVersion`.
  *
  * Admission control paces one version per batch by default;
  * `maxRowsPerBatch` and `maxBytesPerBatch` (and Spark's ReadMaxRows /
  * ReadMaxBytes / composite limits) split a version, and they COMPOSE:
  * one wide-row commit cannot defeat a pure row budget. A version
  * boundary is always a batch boundary — a batch never mixes two
  * commits' rows. `ReadAllAvailable` (how Trigger.AvailableNow pins its
  * target) returns the head.
  *
  * On the plain table the feed REFUSES a non-append commit in range
  * (per-version flag, recorded at commit) — serving a delete/update as
  * an append stream would silently corrupt every downstream aggregate;
  * on the `__changes` relation those commits stream as typed
  * `_change_type` rows instead. */
final class ChangeFeed(store: VersionedStore, name: String, cdf: Boolean,
    startingVersion: Option[Long], maxRowsPerBatch: Long,
    maxBytesPerBatch: Long)
  extends MicroBatchStream with SupportsTriggerAvailableNow {

  private val label = s"${store.tag}($name)"
  // the stream's data schema is fixed at start (the store's log pins
  // it); a mid-stream ALTER widens reads only after a restart
  private val log = store.feedLog(name, cdf)

  override def prepareForTriggerAvailableNow(): Unit = ()
  override def initialOffset(): Offset = {
    val from = startingVersion.getOrElse(store.oldestVersion(name))
    store.schemaAt(name, from) // validate: expired/unknown → range error
    // (from, 0): version `from`'s own changes are the first batch served
    FeedOffset(from, 0L)
  }
  override def deserializeOffset(json: String): Offset =
    FeedOffset.parse(json, label)
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "admission-controlled source: use latestOffset(Offset, ReadLimit)")
  // the default limit is what paces PER-BATCH advance (AvailableNow
  // passes it each batch; ReadAllAvailable appears only when the
  // wrapper pins its final target)
  override def getDefaultReadLimit: ReadLimit = {
    val hasRows = maxRowsPerBatch != Long.MaxValue
    val hasBytes = maxBytesPerBatch != Long.MaxValue
    if (hasRows && hasBytes) ReadLimit.compositeLimit(
      Array(ReadLimit.maxRows(maxRowsPerBatch), ReadLimit.maxBytes(maxBytesPerBatch)))
    else if (hasBytes) ReadLimit.maxBytes(maxBytesPerBatch)
    else ReadLimit.maxRows(maxRowsPerBatch)
  }
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[FeedOffset]
    val head = store.currentVersion(name)
    limit match {
      case _: ReadAllAvailable => FeedOffset(head, log.sliceLen(head))
      case r: ReadMaxRows => advance(s, head, r.maxRows, maxBytesPerBatch)
      case b: ReadMaxBytes => advance(s, head, maxRowsPerBatch, b.maxBytes)
      case c: CompositeReadLimit =>
        val (rB, bB) = c.getReadLimits.foldLeft((Long.MaxValue, Long.MaxValue)) {
          case ((r0, b0), r: ReadMaxRows) => (math.min(r0, r.maxRows), b0)
          case ((r0, b0), b: ReadMaxBytes) => (r0, math.min(b0, b.maxBytes))
          case (acc, _) => acc
        }
        advance(s, head, rB, bB)
      case _ => advance(s, head, maxRowsPerBatch, maxBytesPerBatch)
    }
  }
  private def advance(s: FeedOffset, head: Long, rowBudget: Long,
      byteBudget: Long): FeedOffset = {
    val (v, pos) =
      if (s.pos < log.sliceLen(s.version)) (s.version, s.pos)
      else if (s.version < head) (s.version + 1, 0L)
      else return s
    val len = log.sliceLen(v)
    // an empty change set (a metadata-only ALTER) is its own empty
    // batch — the offset still has to cross it one version at a time
    if (len == 0L) return FeedOffset(v, 0L)
    // at least one row per batch (progress), then admit while BOTH
    // budgets hold
    val byRows = pos + math.min(len - pos, math.max(1L, rowBudget))
    if (byteBudget == Long.MaxValue) return FeedOffset(v, byRows)
    val size = log.rowBytes(v)
    var p = pos + 1
    var bytes = size(pos)
    while (p < byRows && {
      val b = size(p)
      if (bytes + b <= byteBudget) { bytes += b; true } else false
    }) p += 1
    FeedOffset(v, p)
  }
  override def reportLatestOffset(): Offset = {
    val head = store.currentVersion(name)
    FeedOffset(head, log.sliceLen(head))
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (s, e) = (start.asInstanceOf[FeedOffset], end.asInstanceOf[FeedOffset])
    log.partitions((s.version to e.version).flatMap { v =>
      val from = if (v == s.version) s.pos else 0L
      val until = if (v == e.version) e.pos else log.sliceLen(v)
      if (until <= from) None
      else {
        require(cdf || store.appendOnly(name, v),
          s"$label: version $v is a non-append commit — the plain change " +
            "feed serves append slices only (delete/update history cannot " +
            s"be replayed as an append stream); read the ${name}__changes " +
            "relation to stream typed _change_type rows")
        Some(FeedSlice(v, from, until))
      }
    })
  }
  override def createReaderFactory(): PartitionReaderFactory = log.readerFactory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** The table front both stores serve through [[GraftCatalog]]: the
  * relation name, the schema (delta row id, `__changes` columns, pinned
  * version), the read-only guards, and the row-level operation
  * skeletons. A store's table supplies the scan a row-level operation
  * reads and its half of the write protocol ([[StoreWrite]]). */
abstract class VersionedTable[U](store: VersionedStore, name: String,
    pinnedVersion: Option[Long], delta: Boolean, changes: Boolean)
    extends Table with SupportsRead with SupportsWrite
    with TruncatableTable with SupportsRowLevelOperations {

  override def name(): String = pinnedVersion match {
    case Some(v) => s"${store.tag}($name@v$v)"
    case None if changes => s"${store.tag}($name#changes)"
    case None => s"${store.tag}($name)"
  }

  /** Delta tables declare their first column (the row id) NON-NULL —
    * Spark refuses a nullable row id for `WriteDelta` plans, and a delta
    * table's id is a key by contract. A pinned (VERSION AS OF) relation
    * reports the schema AS OF that version — the old column set before
    * an ALTER, which is what version-consistent reads mean. The
    * `__changes` relation appends `_change_type`/`_commit_version` —
    * the columns MUST live on the TABLE (not just the scan): Spark
    * resolves a query's columns from `Table.schema()` during analysis,
    * before any ScanBuilder exists, which is why CDF is a relation
    * suffix here rather than a read option. */
  override def schema(): StructType = {
    val base = pinnedVersion.map(store.schemaAt(name, _))
      .getOrElse(store.schemaOf(name))
    val typed =
      if (!delta) base
      else StructType(base.fields.head.copy(nullable = false) +: base.fields.tail)
    if (changes) MemCdf.withCdfColumns(typed) else typed
  }

  protected def requireWritable(verb: String): Unit = {
    require(pinnedVersion.isEmpty,
      s"${store.tag}($name): cannot $verb a time-travel (VERSION AS OF) relation")
    require(!changes,
      s"${store.tag}($name): cannot $verb the __changes relation — it is a " +
        "read-only view of the commit history")
  }

  /** The scan a row-level operation reads: every row of the group it
    * replaces. */
  protected def rowLevelScan(options: CaseInsensitiveStringMap): ScanBuilder
  /** The store's half of one write, its schema pinned now. */
  protected def storeWrite(): StoreWrite[U]

  /** ROW-LEVEL OPERATIONS (`SupportsRowLevelOperations`) — UPDATE and
    * MERGE (and DELETE outside a metadata-only path). The plain flavour
    * is GROUP-BASED copy-on-write: Spark rewrites the statement into
    * `ReplaceData`, the operation's scan reads the affected group's
    * FULL contents (the whole table is one group), the rewritten query
    * recomputes it, and the write replaces it in ONE atomic version
    * install — a reader can never observe the delete-half of an UPDATE
    * without its insert-half, and an aborted job keeps the committed
    * version. The DELTA flavour (`memd_*`/`fsd_*`) is merge-on-read:
    * Spark plans `WriteDelta` and streams per-row DELETE / UPDATE /
    * INSERT operations KEYED BY [[rowId]] (the table's first column),
    * so the write cost tracks the CHANGE size, not the group size; a
    * delta referencing an id absent from the snapshot fails the whole
    * commit rather than papering over a scan/write disagreement. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    if (delta) () => new RowLevelOperation with SupportsDelta {
      override def command(): RowLevelOperation.Command = info.command()
      override def description(): String =
        s"${store.tag}($name) delta ${info.command()}"
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        rowLevelScan(options)
      override def rowId(): Array[expressions.NamedReference] =
        Array(expressions.Expressions.column(schema().fieldNames.head))
      override def newWriteBuilder(winfo: LogicalWriteInfo): DeltaWriteBuilder = {
        requireWritable(s"${info.command()} on")
        new DeltaWriteBuilder {
          override def build(): DeltaWrite = new VersionedDeltaWrite(storeWrite())
        }
      }
    }
    else () => new RowLevelOperation {
      override def command(): RowLevelOperation.Command = info.command()
      override def description(): String =
        s"${store.tag}($name) copy-on-write ${info.command()}"
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        rowLevelScan(options)
      override def newWriteBuilder(winfo: LogicalWriteInfo): WriteBuilder = {
        requireWritable(s"${info.command()} on")
        // the replacement of the single whole-table group: a truncate
        // install (the task writer strips the __row_operation marker)
        new WriteBuilder {
          override def build(): Write =
            new VersionedWrite(storeWrite(), truncate = true, winfo.queryId())
        }
      }
    }
}

// ---------------------------------------------------------------- writes

/** One task's sink for one stream of rows: the rows become the store's
  * units of commit (heap: UnsafeRow bytes; files: [[FsStore.FileRef]]s).
  * `finish` yields the units for the task's commit message; `abort`
  * throws away what the sink wrote. */
trait UnitSink[U] {
  def write(row: InternalRow): Unit
  def finish(): IterableOnce[U]
  def abort(): Unit
}

/** The task half a store supplies to the write protocol. Serializable:
  * it ships inside the writer factories, so it carries the write
  * schema pinned on the driver, never the store's driver state. */
trait UnitSinks[U] extends Serializable {
  def schema: StructType
  /** Table rows of task `pid`; `epoch` is the streaming epoch, -1 in a
    * batch job. */
  def rows(pid: Int, epoch: Long): UnitSink[U]
  /** One of a delta task's four sinks: row ids (`ids`: deletes `k`,
    * update keys `uk`) or table rows (update images `u`, inserts `i`). */
  def delta(kind: String, ids: Boolean, pid: Int): UnitSink[U]
}

/** The driver half a store supplies: one install per commit shape, and
  * the cleanup of units that will never be installed. Built when the
  * write is built, so the schema every task writes under is pinned once
  * for batch, streaming-epoch and delta commits alike. */
abstract class StoreWrite[U] {
  val sinks: UnitSinks[U]
  def append(units: Vector[U]): Unit
  def truncate(units: Vector[U]): Unit
  /** Append `units` as epoch `epochId` of query `queryId` unless that
    * query's high-water mark already covers it: false = a replay, and
    * nothing was installed. */
  def epoch(queryId: String, epochId: Long, units: Vector[U]): Boolean
  def delta(m: DeltaMessage[U]): Unit
  /** Units of an aborted job or a replayed epoch. */
  def discard(units: Vector[U]): Unit = ()
  /** After an abort: remove what task attempts that never reported wrote
    * (`epoch` -1 for a batch job). */
  def sweep(epoch: Long): Unit = ()
  final def abort(messages: Array[WriterCommitMessage], epoch: Long): Unit = {
    discard(VersionedWrite.units(messages))
    sweep(epoch)
  }
  def requiredDistribution: Distribution = Distributions.unspecified()
  def requiredOrdering: Array[expressions.SortOrder] = Array.empty
}

/** A task's units (empty = the task received no rows). */
final case class UnitsMessage[U](units: Vector[U]) extends WriterCommitMessage

/** A delta task's units: row ids to delete, update ids with their new
  * rows (in the same order), and inserted rows. */
final case class DeltaMessage[U](deletes: Vector[U], updateIds: Vector[U],
    updates: Vector[U], inserts: Vector[U]) extends WriterCommitMessage
object DeltaMessage {
  def merge[U](messages: Array[WriterCommitMessage]): DeltaMessage[U] = {
    val ms = messages.map(_.asInstanceOf[DeltaMessage[U]]).toVector
    DeltaMessage(ms.flatMap(_.deletes), ms.flatMap(_.updateIds),
      ms.flatMap(_.updates), ms.flatMap(_.inserts))
  }
}

/** The two-phase write both stores run (the single coordinated commit
  * of a parallel load):
  *  - each task writes through its store's sinks and hands its units to
  *    the driver only inside its commit message — nothing it wrote is
  *    visible before the driver installs the whole message set as ONE
  *    new version (append, truncate, or a per-query epoch);
  *  - a failed job never installs: abort discards every delivered unit,
  *    then the store sweeps what unreported attempts wrote, so readers
  *    keep the previous version and no file outlives the job;
  *  - speculative and retried attempts never reach the store: Spark
  *    delivers commit messages only for the attempts it chose;
  *  - a streaming epoch replayed after a restart comes back under the
  *    same id; the store's per-query high-water mark turns it into a
  *    no-op, and its units are discarded (exactly-once per query). */
final class VersionedWrite[U](store: StoreWrite[U], truncate: Boolean,
    queryId: String) extends RequiresDistributionAndOrdering
    with BatchWrite with StreamingWrite {
  override def requiredDistribution(): Distribution = store.requiredDistribution
  override def requiredOrdering(): Array[expressions.SortOrder] = store.requiredOrdering
  override def useCommitCoordinator(): Boolean = true
  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RowWriterFactory(store.sinks)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (truncate) store.truncate(VersionedWrite.units(messages))
    else store.append(VersionedWrite.units(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    store.abort(messages, -1L)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new RowWriterFactory(store.sinks)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val units = VersionedWrite.units[U](messages)
    if (!store.epoch(queryId, epochId, units)) store.discard(units)
  }
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    store.abort(messages, epochId)
}

object VersionedWrite {
  /** Every delivered unit; a task that never committed delivers null. */
  def units[U](messages: Array[WriterCommitMessage]): Vector[U] =
    messages.iterator.flatMap {
      case m: UnitsMessage[U @unchecked] => m.units
      case m: DeltaMessage[U @unchecked] =>
        m.deletes ++ m.updateIds ++ m.updates ++ m.inserts
      case _ => Nil
    }.toVector

  /** The protocol outside a DSv2 write (fs maintenance rewrites, the
    * view's delta refresh): one `factory` writer per partition of
    * `rows`, then `commit` on the driver over the delivered messages. A
    * failed task aborts its writer; a failed job, or a commit that
    * throws, gets the abort a DSv2 job gets from Spark. */
  def run[U, R](store: StoreWrite[U], rows: RDD[InternalRow],
      factory: DataWriterFactory)(commit: Array[WriterCommitMessage] => R): R = {
    var messages = Array.empty[WriterCommitMessage]
    try {
      messages = rows.mapPartitionsWithIndex { (pid, it) =>
        val w = factory.createWriter(pid, 0L)
        val m = try { it.foreach(w.write); w.commit() }
        catch { case t: Throwable => w.abort(); throw t }
        finally w.close()
        Iterator.single(m)
      }.collect()
      commit(messages)
    } catch {
      case t: Throwable => store.abort(messages, -1L); throw t
    }
  }
}

/** The task writer of every batch and streaming write. Row-level
  * (ReplaceData) jobs deliver `(__row_operation: int, data...)` rows:
  * Spark's group-based rewrite prepends the marker and, for a connector
  * with no `requiredMetadataAttributes`, hands the raw row to `write()`
  * (see `ReplaceDataExec.writingTask`). The writer dispatches on arity:
  * table-width rows go to the sink as they are, width+1 rows without
  * the leading marker; anything else fails loudly. */
final class RowWriterFactory[U](sinks: UnitSinks[U])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(pid: Int, taskId: Long): DataWriter[InternalRow] =
    writer(pid, -1L)
  override def createWriter(pid: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = writer(pid, epochId)
  private def writer(pid: Int, epoch: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val width = sinks.schema.length
      private val sink = sinks.rows(pid, epoch)
      private val skipOp = RowWriterFactory.skipMarker(sinks.schema)
      override def write(row: InternalRow): Unit =
        if (row.numFields == width) sink.write(row)
        else if (row.numFields == width + 1) sink.write(skipOp(row))
        else throw new IllegalStateException(
          s"write: row arity ${row.numFields} vs table $width")
      override def commit(): WriterCommitMessage =
        UnitsMessage(sink.finish().iterator.toVector)
      override def abort(): Unit = sink.abort()
      override def close(): Unit = ()
    }
}

object RowWriterFactory {
  /** Projects `(marker, row...)` to the `schema`-wide row after the
    * leading marker column. */
  def skipMarker(schema: StructType): UnsafeProjection =
    UnsafeProjection.create(schema.fields.toIndexedSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i + 1, f.dataType, f.nullable)
    })
}

/** The delta (merge-on-read) write: each task's keyed DELETE / UPDATE /
  * INSERT operations go to four sinks, and the driver applies the whole
  * set in ONE version install through [[StoreWrite.delta]]. */
final class VersionedDeltaWrite[U](store: StoreWrite[U])
    extends DeltaWrite with DeltaBatchWrite {
  override def toBatch: DeltaBatchWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DeltaWriterFactory =
    new DeltaSinkFactory(store.sinks)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    store.delta(DeltaMessage.merge(messages))
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    store.abort(messages, -1L)
}

final class DeltaSinkFactory[U](sinks: UnitSinks[U]) extends DeltaWriterFactory {
  override def createWriter(pid: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dels = sinks.delta("k", ids = true, pid)
      private val updIds = sinks.delta("uk", ids = true, pid)
      private val upds = sinks.delta("u", ids = false, pid)
      private val ins = sinks.delta("i", ids = false, pid)
      override def delete(meta: InternalRow, id: InternalRow): Unit = dels.write(id)
      override def update(meta: InternalRow, id: InternalRow, row: InternalRow): Unit = {
        updIds.write(id); upds.write(row)
      }
      override def insert(row: InternalRow): Unit = ins.write(row)
      private def units(s: UnitSink[U]) = s.finish().iterator.toVector
      override def commit(): WriterCommitMessage =
        DeltaMessage(units(dels), units(updIds), units(upds), units(ins))
      override def abort(): Unit = Seq(dels, updIds, upds, ins).foreach(_.abort())
      override def close(): Unit = ()
    }
}
