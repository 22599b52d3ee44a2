package graft.sources

import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxBytes, ReadMaxRows, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What the two versioned stores share: [[MemStore]] keeps committed
  * rows on the heap, [[FsStore]] keeps parquet files under manifests,
  * and both install every commit as one new immutable version. The
  * table front ([[VersionedTable]]), the change feed ([[ChangeFeed]])
  * and [[GraftCatalog]]'s dispatch are written once over this. */
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
  * reads and the two writes it commits. */
abstract class VersionedTable(store: VersionedStore, name: String,
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
  /** The keyed DELETE / UPDATE / INSERT write of the delta flavour. */
  protected def deltaWrite(): DeltaBatchWrite
  /** The copy-on-write replacement of the whole-table group. */
  protected def rewrite(info: LogicalWriteInfo): Write

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
          override def build(): DeltaWrite = new DeltaWrite {
            override def toBatch: DeltaBatchWrite = deltaWrite()
          }
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
        new WriteBuilder {
          override def build(): Write = rewrite(winfo)
        }
      }
    }
}
