package graft.sources

import java.nio.file.{Files, Path => JPath, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Injectable, deterministic commit clock (the `TIMESTAMP AS OF` story):
  * the graft stores' version histories are clock-free by default — a
  * wall clock would make the DuckDB oracle nondeterministic — so
  * timestamp-typed time travel is served only for tables committed
  * while a harness-supplied clock was installed. The clock is monotonic
  * by construction (an AtomicLong stepping a fixed amount per commit),
  * which is the Delta/Iceberg commit-timestamp contract reduced to a
  * testable form. Commits without a clock stamp -1 ("no timestamp") and
  * `TIMESTAMP AS OF` against them stays a loud refusal. */
object GraftClock {
  @volatile private var state: Option[(AtomicLong, Long)] = None

  /** Install a clock: the next commit stamps `startMs`, each subsequent
    * commit `stepMs` later. Deterministic across runs by construction. */
  def set(startMs: Long, stepMs: Long): Unit =
    state = Some((new AtomicLong(startMs), stepMs))
  def clear(): Unit = state = None
  /** Stamp for the commit being installed: -1 when no clock is set. */
  def next(): Long = state match {
    case Some((t, step)) => t.getAndAdd(step)
    case None => -1L
  }
}

/** Task-side parquet IO for the file-backed graft table: writes
  * [[InternalRow]]s through Spark's own `ParquetWriteSupport` (the same
  * row→parquet encoder every Spark parquet write uses — real, standard
  * parquet files), reads them back through the public parquet Group API
  * with per-file schemas, so a file written before a schema evolution
  * (ADD / RENAME / type-WIDEN / DROP) is mapped to the scan schema by
  * FIELD ID at read — never rewritten. Cf. the reference's storage
  * story: dask-obj has none (`core.py:57` wraps in-memory sequences);
  * this is the [X] tier's 100 TB bar (BASELINE.json:6). */
object FsParquet {
  import org.apache.parquet.hadoop.{ParquetReader, ParquetWriter}
  import org.apache.parquet.hadoop.api.WriteSupport
  import org.apache.parquet.hadoop.example.GroupReadSupport
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport

  /** The column types the fs table admits (checked at CREATE): the
    * atomics [[MemFilterEval]] evaluates PLUS the warehouse staples a
    * money+event-time table needs — DECIMAL (any supported precision),
    * TIMESTAMP (µs), DATE, BINARY (the multimodal payload column a
    * training-data lake stores images/audio in — opaque: no stats, no
    * indexes, only the columns AROUND it skip), one-level ARRAYs of
    * the numeric/string/boolean atomics (embeddings, tag lists),
    * NESTED STRUCTS of all of these (recursively — the `events.props`
    * shape: every nested field carries its own Iceberg-style field id,
    * so leaf zone maps, null-count skipping, nested column pruning and
    * ADD/RENAME/widen evolution all work below the top level), and
    * MAPs of string/integral keys to flat atomics (opaque like binary —
    * no stats, no per-entry evolution: the key set is data, not
    * schema). Arrays OF structs/maps stay a loud refusal: element-level
    * field ids inside a repeated group buy little and complicate every
    * reader. */
  def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         BooleanType | TimestampType | DateType | BinaryType => true
    case _: DecimalType => true
    case ArrayType(et, _) => et match {
      case LongType | IntegerType | DoubleType | FloatType | StringType |
           BooleanType => true
      case _ => false
    }
    case StructType(fields) =>
      fields.nonEmpty && fields.forall(f => supportedType(f.dataType))
    case MapType(kt, vt, _) =>
      (kt match {
        case StringType | LongType | IntegerType => true
        case _ => false
      }) && (vt match {
        case LongType | IntegerType | DoubleType | FloatType | StringType |
             BooleanType => true
        case _ => false
      })
    case _ => false
  }

  private def hadoopConf(schema: StructType): Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration()
    // raw local FS: no .crc sidecars — integrity is parquet's own
    // footer/page checksums; sidecars would orbit every data file and
    // complicate the abort-leaves-no-files contract for nothing
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    // the FileSystem CACHE serves whatever "file" instance came first
    // (the checksumming LocalFileSystem) — bypass it or the impl
    // override above silently never applies
    conf.set("fs.file.impl.disable.cache", "true")
    ParquetWriteSupport.setSchema(schema, conf)
    // keys ParquetWriteSupport/SparkToParquetSchemaConverter read at
    // init (normally injected by ParquetFileFormat.prepareWrite);
    // values = Spark's modern defaults
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "false")
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "true")
    conf
  }

  private class RowBuilder(path: org.apache.hadoop.fs.Path)
      extends ParquetWriter.Builder[InternalRow, RowBuilder](path) {
    override def self(): RowBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** Open a parquet writer for `schema` at `path` (local file). The
    * caller streams rows and closes; bytes are on disk only then.
    * Row-group size follows parquet's 128 MB default; the
    * `graft.fs.rowGroupBytes` system property overrides it (ops tuning,
    * and how the split-scan specs manufacture multi-group files). */
  def writer(path: String, schema: StructType): ParquetWriter[InternalRow] =
    new RowBuilder(new org.apache.hadoop.fs.Path(path))
      .withConf(hadoopConf(schema))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(sys.props.get("graft.fs.rowGroupBytes")
        .map(_.toLong)
        .getOrElse(ParquetWriter.DEFAULT_BLOCK_SIZE.toLong))
      .build()

  /** Row-group starting byte positions of `path`, task-side (one footer
    * read of a file this task just wrote — page-cache warm). Returns
    * empty for single-group files: they split no further, so the
    * manifest carries nothing. */
  def rowGroupStarts(path: String): Vector[Long] = {
    val conf = new Configuration()
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.set("fs.file.impl.disable.cache", "true")
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(path), conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      val blocks = r.getFooter.getBlocks.asScala
      if (blocks.size <= 1) Vector.empty
      else blocks.iterator.map(_.getStartingPos).toVector
    } finally r.close()
  }

  /** A row iterator that owns its parquet reader: closes at EOF AND on
    * [[close]] — a LIMIT/take-sliced scan abandons the iterator mid-file,
    * and without the explicit close every such task leaked an open
    * parquet file handle (the round-9 directory-fd-leak class, on data
    * files; the partition reader's `close()` now calls through). */
  final class RowIter(reader: ParquetReader[org.apache.parquet.example.data.Group],
      conv: Array[org.apache.parquet.example.data.Group => Any],
      scanLen: Int) extends Iterator[InternalRow] with AutoCloseable {
    private var closed = false
    private var nextGroup = reader.read()
    override def close(): Unit = if (!closed) { closed = true; reader.close() }
    override def hasNext: Boolean = {
      val h = nextGroup != null
      if (!h) close()
      h
    }
    override def next(): InternalRow = {
      val g = nextGroup
      nextGroup = reader.read()
      val out = new GenericInternalRow(scanLen)
      var i = 0
      while (i < conv.length) { out.update(i, conv(i)(g)); i += 1 }
      out
    }
  }

  /** Read `path` (written under `fileSchema`) converting each row to
    * `scanSchema` by FIELD ID ("graft.fieldId" in field metadata):
    *  - same id, same type → value as-is;
    *  - same id, wider scan type (INT→BIGINT, FLOAT→DOUBLE) → upcast;
    *  - id absent from the file (column added later) → NULL;
    *  - file columns whose id is absent from the scan (dropped or
    *    pruned) → skipped.
    * This is Iceberg's schema-evolution read contract: files are
    * immutable, the mapping lives in metadata. The ROW path — the
    * masked/CDF/sliced reads; plain snapshot scans take the vectorized
    * [[FsVectorized]] path instead. `range` restricts to the row groups
    * whose byte midpoint falls inside it (the split-scan rule). */
  def read(path: String, fileSchema: StructType, scanSchema: StructType,
      range: Option[(Long, Long)] = None): RowIter = {
    val reader = range match {
      case None =>
        new ParquetReader(new Configuration(),
          new org.apache.hadoop.fs.Path(path), new GroupReadSupport())
      case Some((start, len)) =>
        ParquetReader.builder(new GroupReadSupport(),
            new org.apache.hadoop.fs.Path(path))
          .withConf(new Configuration())
          .withFileRange(start, start + len)
          .build()
    }
    new RowIter(reader, converters(fileSchema, scanSchema), scanSchema.length)
  }

  /** Per-scan-column extractor from a parquet Group of `fileSchema`. */
  private def converters(fileSchema: StructType, scanSchema: StructType)
      : Array[org.apache.parquet.example.data.Group => Any] = {
    val byId = fileSchema.fields.zipWithIndex.map { case (f, i) =>
      FsStore.fieldId(f) -> ((i, f.dataType))
    }.toMap
    scanSchema.fields.map { sf =>
      byId.get(FsStore.fieldId(sf)) match {
        case None => (_: org.apache.parquet.example.data.Group) => null
        case Some((i, ft)) =>
          val get: org.apache.parquet.example.data.Group => Any = (ft, sf.dataType) match {
            case (LongType, LongType) => g => g.getLong(i, 0)
            case (IntegerType, IntegerType) => g => g.getInteger(i, 0)
            case (IntegerType, LongType) => g => g.getInteger(i, 0).toLong // widened
            case (DoubleType, DoubleType) => g => g.getDouble(i, 0)
            case (FloatType, FloatType) => g => g.getFloat(i, 0)
            case (FloatType, DoubleType) => g => g.getFloat(i, 0).toDouble // widened
            case (BooleanType, BooleanType) => g => g.getBoolean(i, 0)
            case (StringType, StringType) =>
              g => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
            case (BinaryType, BinaryType) => g => g.getBinary(i, 0).getBytes
            // TIMESTAMP(µs) / DATE: parquet INT64 / INT32, same units as
            // InternalRow's internal representation — value as-is
            case (TimestampType, TimestampType) => g => g.getLong(i, 0)
            case (DateType, DateType) => g => g.getInteger(i, 0)
            // DECIMAL: standard-mode physicals by precision (ParquetWrite
            // Support writes INT32 ≤9, INT64 ≤18, FLBA above)
            case (d: DecimalType, s: DecimalType) if d == s =>
              if (d.precision <= 9) { g =>
                Decimal(g.getInteger(i, 0).toLong, d.precision, d.scale) }
              else if (d.precision <= 18) { g =>
                Decimal(g.getLong(i, 0), d.precision, d.scale) }
              else { g =>
                val unscaled = new java.math.BigInteger(g.getBinary(i, 0).getBytes)
                Decimal(new java.math.BigDecimal(unscaled, d.scale), d.precision, d.scale) }
            // one-level LIST of atomics (standard 3-level layout)
            case (ArrayType(fe, _), ArrayType(se, _)) if fe == se =>
              val elem = elementGetter(fe)
              g => {
                val list = g.getGroup(i, 0)
                val n = list.getFieldRepetitionCount(0)
                val out = new Array[Any](n)
                var j = 0
                while (j < n) {
                  val holder = list.getGroup(0, j)
                  out(j) = if (holder.getFieldRepetitionCount(0) == 0) null
                           else elem(holder)
                  j += 1
                }
                new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
              }
            // NESTED STRUCT: recurse — the same field-id mapping,
            // widening and ADD-backfill contract applies at every depth
            // (a nested field RENAMED since the file was written
            // resolves by id; one ADDED since null-fills)
            case (ft: StructType, st: StructType) =>
              val inner = converters(ft, st)
              g => {
                val sub = g.getGroup(i, 0)
                val out = new GenericInternalRow(inner.length)
                var j = 0
                while (j < inner.length) { out.update(j, inner(j)(sub)); j += 1 }
                out
              }
            // MAP of atomics (standard key_value repeated group): opaque
            // — exact type match only, no id mapping inside
            case (MapType(fk, fv, _), MapType(sk, sv, _))
                if fk == sk && fv == sv =>
              val keyG = kvGetter(fk, 0)
              val valG = kvGetter(fv, 1)
              g => {
                val m = g.getGroup(i, 0)
                val n = m.getFieldRepetitionCount(0)
                val ks = new Array[Any](n)
                val vs = new Array[Any](n)
                var j = 0
                while (j < n) {
                  val kv = m.getGroup(0, j)
                  ks(j) = keyG(kv)
                  vs(j) = if (kv.getFieldRepetitionCount(1) == 0) null
                          else valG(kv)
                  j += 1
                }
                import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
                new ArrayBasedMapData(
                  new GenericArrayData(ks), new GenericArrayData(vs))
              }
            case (a, b) => throw new IllegalStateException(
              s"graft_fs: cannot read file column ${fileSchema(i).name}: $a " +
                s"as scan type $b (only INT→BIGINT and FLOAT→DOUBLE widen)")
          }
          g => if (g.getFieldRepetitionCount(i) == 0) null else get(g)
      }
    }
  }

  /** Typed extractor for a list element holder group (field 0 = the
    * element value). */
  private def elementGetter(et: DataType)
      : org.apache.parquet.example.data.Group => Any = et match {
    case LongType => _.getLong(0, 0)
    case IntegerType => _.getInteger(0, 0)
    case DoubleType => _.getDouble(0, 0)
    case FloatType => _.getFloat(0, 0)
    case BooleanType => _.getBoolean(0, 0)
    case StringType => g => UTF8String.fromBytes(g.getBinary(0, 0).getBytes)
    case other => throw new IllegalStateException(
      s"graft_fs: unsupported array element type $other")
  }

  /** Typed extractor for field `idx` of a map's key_value group. */
  private def kvGetter(t: DataType, idx: Int)
      : org.apache.parquet.example.data.Group => Any = t match {
    case LongType => _.getLong(idx, 0)
    case IntegerType => _.getInteger(idx, 0)
    case DoubleType => _.getDouble(idx, 0)
    case FloatType => _.getFloat(idx, 0)
    case BooleanType => _.getBoolean(idx, 0)
    case StringType => g => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
    case other => throw new IllegalStateException(
      s"graft_fs: unsupported map key/value type $other")
  }

  /** Keys of a key file (single `k`-typed column written by the delta
    * writer) or the FIRST column of a data file — normalized so an
    * int-era key compares equal to its post-widening long form. */
  def readKeys(path: String, fileSchema: StructType): Iterator[Any] = {
    val keyField = StructType(Seq(fileSchema.fields.head))
    read(path, keyField, keyField).map(r => normalizeKey(r.get(0, keyField.head.dataType)))
  }

  def normalizeKey(v: Any): Any = v match {
    case null => null
    case i: java.lang.Integer => i.longValue: java.lang.Long
    case s: UTF8String => s.toString
    case other => other
  }
}

/** The FILE-BACKED graft table store — the production variant
  * [[MemStore]]'s own scaladoc describes: the SAME two-phase commit
  * protocol, version history, change-data-feed, row-level operations and
  * schema evolution, but tasks write PARQUET DATA FILES and commit
  * messages carry FILE MANIFESTS (path + row/byte counts), never rows.
  * The driver installs one immutable JSON manifest per version under
  * `<table>/_log/` (Delta's `_delta_log` shape, publish = atomic
  * rename), so:
  *  - driver memory is O(manifest) regardless of table size — the 50M-row
  *    [[MemStore.MaxCommittedRows]] cap does not exist here (the bound
  *    is disk);
  *  - a failed job's files are deleted by task/driver `abort` and an
  *    uncommitted manifest is never visible (readers only see renamed
  *    `v%05d.json` files);
  *  - data files are IMMUTABLE and SHARED across versions: an append
  *    adds files, a delta commit adds key/update/insert files and masks
  *    old rows at READ (merge-on-read), schema evolution touches only
  *    the manifest.
  * Versions are retained indefinitely (the testbed never needs expiry);
  * a production deployment bounds history with snapshot expiry + vacuum
  * of unreferenced files — the same knob Iceberg/Delta expose. */
object FsStore extends VersionedStore {
  val tag = "graft_fs"
  val OpInsert = MemStore.OpInsert
  val OpDelete = MemStore.OpDelete
  val OpUpdatePre = MemStore.OpUpdatePre
  val OpUpdatePost = MemStore.OpUpdatePost

  /** PER-COLUMN zone-map entry of one data file, keyed in [[FileRef]] by
    * FIELD ID so stats survive renames and compose with widening (int
    * stats are normalized to `long`, float to `double`, at write). A
    * column with no entry (all-NULL, unsupported type) is never skipped
    * on. String order is UTF8 binary — the SAME order Spark's string
    * comparisons use, so window-disjointness is sound for pushed string
    * predicates too. */
  final case class ColStat(kind: String, min: Any, max: Any) {
    /** File provably holds NO value inside the window (None = unbounded
      * side)? Sound because the stat covers every non-NULL value of the
      * file (NULL never satisfies a range conjunct; a double column that
      * saw NaN records NO stat at all — NaN compares greatest in Spark,
      * which min/max arithmetic cannot represent). */
    def disjointFrom(w: ColWindow): Boolean = kind == w.kind &&
      (w.hi.exists(h => ColStat.lt(kind, h, min)) ||
        w.lo.exists(l => ColStat.lt(kind, max, l)))
  }
  object ColStat {
    /** Strict order per stat kind; strings in UTF8 BINARY order — the
      * same order Spark's string comparisons use. */
    def lt(kind: String, a: Any, b: Any): Boolean = kind match {
      case "long" => a.asInstanceOf[Long] < b.asInstanceOf[Long]
      case "double" => a.asInstanceOf[Double] < b.asInstanceOf[Double]
      case "string" => UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0
      case other => throw new IllegalStateException(s"ColStat kind $other")
    }
  }

  /** A conjunctive [lo, hi] window some pushed filters imply for one
    * column (None = unbounded side), typed like the column's stat kind. */
  final case class ColWindow(kind: String, lo: Option[Any], hi: Option[Any])

  /** One immutable data file of a snapshot. `schemaId` indexes the
    * table's schema lineage (the schema the file was WRITTEN under);
    * `addedVersion` decides which delta masks apply to it. `minKey` /
    * `maxKey` are the writer-recorded ZONE MAP of the first (row-id)
    * column when it is integral, and `stats` carries min/max for EVERY
    * atomic column (by field id) — the manifest-level data-skipping
    * stats Delta/Iceberg keep per file; sentinels (MinValue/MaxValue)
    * and absent stats mean "unknown, never skip". */
  /** `nullCounts`: per-column (by FIELD ID) count of NULLs in this file —
    * recorded for EVERY column of the write schema (0 included, so
    * "no entry" distinguishes pre-stats-era files from null-free ones).
    * Powers IS NULL / IS NOT NULL file skipping: a 0 proves no row
    * satisfies IS NULL; a count equal to `rows` proves none satisfies
    * IS NOT NULL — and Spark pushes implicit IsNotNull conjuncts with
    * most filters, so all-NULL files drop out of ordinary scans free. */
  final case class FileRef(path: String, rows: Long, bytes: Long,
      schemaId: Int, addedVersion: Long,
      minKey: Long = Long.MinValue, maxKey: Long = Long.MaxValue,
      stats: Map[Int, ColStat] = Map.empty, bucket: Int = -1,
      sorted: Boolean = false, bloom: Option[String] = None,
      nullCounts: Map[Int, Long] = Map.empty,
      // LONG-encoded partition TUPLE under the table's _part.json spec,
      // one entry per spec field in spec order (identity value, epoch
      // day/hour/month index for the time transforms); None entries are
      // the NULL partition, an EMPTY vector = the file predates the spec
      // — never pruned either way
      parts: Vector[Option[Long]] = Vector.empty,
      // parquet ROW-GROUP starting byte positions, recorded at write
      // time when the file has MORE THAN ONE group (8 B/group in the
      // manifest): lets the scan planner split one skewed file into
      // row-group-granular tasks with ZERO planning-time file IO.
      // Empty = single-group or pre-split-era file — one task.
      groups: Vector[Long] = Vector.empty) {
    /** First spec field's value — the single-transform accessor most
      * call sites (day-partitioned facts) read. */
    def part: Option[Long] = parts.headOption.flatten
    /** Can a scan bounded to [lo, hi] on the key skip this file? */
    def disjointFrom(lo: Long, hi: Long): Boolean =
      !(minKey == Long.MinValue && maxKey == Long.MaxValue) &&
        (maxKey < lo || minKey > hi)
  }

  /** A delta commit's read-side mask: keys in `keyFiles` are dead in
    * every data file OLDER than `version` (deleted or superseded by an
    * update row that lives in its own data file). */
  final case class DeltaMask(version: Long, keyFiles: Vector[FileRef])

  /** One entry of a version's change log, file-referenced: the change
    * rows are `files` (with the masks that applied to them as of the
    * previous version), optionally restricted to the keys in `keys` —
    * how delete/update PRE-IMAGES are reconstructed at read without the
    * commit ever scanning the table. */
  final case class Change(op: String, files: Vector[FileRef],
      masks: Vector[DeltaMask], keys: Vector[FileRef], rows: Long)

  /** `bucketN` > 0 declares the table's PARTITION SPEC: every data file
    * holds only rows with `floorMod(firstCol, bucketN) == file.bucket` —
    * the layout [[FsScan]] reports as `KeyGroupedPartitioning(bucket(n,
    * key))` so two such tables join WITHOUT an exchange (storage-
    * partitioned join). The spec is fixed at CREATE (Iceberg's partition
    * spec, reduced to the bucket transform the graft catalog resolves). */
  /** `txnId` (Some = this manifest was installed by a MULTI-TABLE
    * transaction, [[FsTxn]]): the version is INVISIBLE to every reader
    * until `_txn/<id>.committed` exists — one atomic marker create
    * flips all participating tables' pending heads visible together.
    * `ngramIds`: field ids of string columns carrying a per-file byte
    * 3-GRAM bloom (substring-predicate skipping, [[FsBloom]]). */
  final case class Version(id: Long, tsMs: Long, schemaId: Int,
      lineage: Vector[StructType], maxFieldId: Int,
      files: Vector[FileRef], masks: Vector[DeltaMask],
      changes: Vector[Change], rowCount: Long,
      epochs: Map[String, Long] = Map.empty, bucketN: Int = 0,
      bloomIds: Vector[Int] = Vector.empty,
      ngramIds: Vector[Int] = Vector.empty,
      txnId: Option[String] = None) {
    def schema: StructType = lineage(schemaId)
    def appendOnly: Boolean = changes.forall(_.op == OpInsert)
  }

  // ---------------------------------------------------------------- root

  lazy val root: String = Files.createTempDirectory("graft_fs").toString

  def tableDir(name: String): JPath = Paths.get(root, name)
  /** Directory listing that CLOSES the stream: `Files.list` holds an OS
    * directory fd until closed, and the manifest lookup runs on every
    * table load — the unclosed-stream version leaked ~2.4k fds per bench
    * session and measurably slowed later streaming queries (round-9
    * bench post-mortem). */
  private def listNames(d: JPath): Vector[String] = {
    val st = Files.list(d)
    try st.iterator().asScala.map(_.getFileName.toString).toVector
    finally st.close()
  }
  private def logDir(name: String): JPath = tableDir(name).resolve("_log")
  private def dataDir(name: String): JPath = tableDir(name).resolve("data")

  /** Delete an UNCOMMITTED file and its bloom sidecar (abort paths and
    * replayed streaming epochs — the manifest never saw the ref). */
  private[sources] def deleteRef(f: FileRef): Unit = {
    new java.io.File(f.path).delete()
    f.bloom.foreach(p => new java.io.File(p).delete(): Unit)
  }

  /** Abort backstop: delete every file in `data/` whose name carries
    * write-job stamp `jobId` (filename prefix `j<jobId>-`, stamped by the
    * writer factories). Task- and driver-level aborts delete the files
    * they KNOW about (the attempt's own tracked writers; the refs in
    * delivered commit messages) — but a task attempt that dies or is
    * superseded after `finish()` and before its message lands is visible
    * to neither. The stamp makes the job's whole output enumerable from
    * the driver, so abort can sweep unreported attempts too. Committed
    * jobs never reach this path; concurrent jobs have distinct stamps. */
  private[sources] def sweepJobFiles(name: String, jobId: String): Unit = {
    val dir = dataDir(name).toFile
    val prefix = s"j$jobId-"
    def sweep(): Int = {
      val fs = Option(dir.listFiles()).getOrElse(Array.empty[java.io.File])
      fs.count(f => f.getName.startsWith(prefix) && f.delete())
    }
    // Zombie attempts may STILL be closing their files while the driver
    // aborts (the kill is asynchronous); one scan would race them. Loop
    // until two consecutive quiet scans — bounded at ~2 s, abort path
    // only. A straggler slower than that is caught by the task-side
    // isInterrupted self-abort, and ultimately by vacuum: the manifest
    // never references unreported files, so reads stay correct either way.
    var quiet = 0; var tries = 0
    while (quiet < 2 && tries < 40) {
      if (sweep() == 0) quiet += 1 else quiet = 0
      tries += 1
      if (quiet < 2) Thread.sleep(50)
    }
  }

  /** Absolute path for a fresh data/key file some task is about to
    * write. The file is invisible to readers until a manifest commits
    * it — tasks write first, the driver publishes later (two-phase). */
  def newFilePath(name: String, tag: String): String = {
    Files.createDirectories(dataDir(name))
    dataDir(name).resolve(
      s"$tag-${java.util.UUID.randomUUID().toString.take(12)}.parquet").toString
  }

  // ------------------------------------------------------------ manifest

  private val mapper = new ObjectMapper()

  private def fileToJson(f: FileRef): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("path", f.path); o.put("rows", f.rows); o.put("bytes", f.bytes)
    o.put("schemaId", f.schemaId); o.put("addedVersion", f.addedVersion)
    o.put("minKey", f.minKey); o.put("maxKey", f.maxKey)
    if (f.bucket >= 0) o.put("bucket", f.bucket)
    // single-field specs keep the legacy scalar "part" key (manifest
    // compat both ways); composite specs write the "parts" array with
    // JSON null marking the NULL partition
    f.parts match {
      case Vector() => ()
      case Vector(p) => p.foreach(v => o.put("part", v): Unit)
        if (p.isEmpty) o.putNull("part")
      case ps =>
        val pa = mapper.createArrayNode()
        ps.foreach {
          case Some(v) => pa.add(v): Unit
          case None => pa.addNull(): Unit
        }
        o.set[ObjectNode]("parts", pa)
    }
    if (f.sorted) o.put("sorted", true)
    if (f.groups.nonEmpty) {
      val ga = mapper.createArrayNode()
      f.groups.foreach(ga.add(_): Unit)
      o.set[ObjectNode]("groups", ga)
    }
    f.bloom.foreach(o.put("bloom", _))
    if (f.nullCounts.nonEmpty) {
      val nc = mapper.createArrayNode()
      f.nullCounts.toSeq.sortBy(_._1).foreach { case (id, n) =>
        val e = mapper.createObjectNode()
        e.put("id", id); e.put("n", n)
        nc.add(e): Unit
      }
      o.set[ObjectNode]("nulls", nc)
    }
    if (f.stats.nonEmpty) {
      val st = mapper.createArrayNode()
      f.stats.toSeq.sortBy(_._1).foreach { case (id, s) =>
        val e = mapper.createObjectNode()
        e.put("id", id); e.put("kind", s.kind)
        s.kind match {
          case "long" =>
            e.put("min", s.min.asInstanceOf[Long])
            e.put("max", s.max.asInstanceOf[Long])
          case "double" =>
            e.put("min", s.min.asInstanceOf[Double])
            e.put("max", s.max.asInstanceOf[Double])
          case _ =>
            e.put("min", s.min.asInstanceOf[String])
            e.put("max", s.max.asInstanceOf[String])
        }
        st.add(e): Unit
      }
      o.set[ObjectNode]("stats", st)
    }
    o
  }
  private def fileFrom(n: JsonNode): FileRef = {
    val stats = Option(n.get("stats")).map { st =>
      st.elements().asScala.map { e =>
        val kind = e.get("kind").asText
        val (mn, mx): (Any, Any) = kind match {
          case "long" => (e.get("min").asLong, e.get("max").asLong)
          case "double" => (e.get("min").asDouble, e.get("max").asDouble)
          case _ => (e.get("min").asText, e.get("max").asText)
        }
        e.get("id").asInt -> ColStat(kind, mn, mx)
      }.toMap
    }.getOrElse(Map.empty[Int, ColStat])
    val nulls = Option(n.get("nulls")).map { nc =>
      nc.elements().asScala.map(e =>
        e.get("id").asInt -> e.get("n").asLong).toMap
    }.getOrElse(Map.empty[Int, Long])
    FileRef(n.get("path").asText, n.get("rows").asLong, n.get("bytes").asLong,
      n.get("schemaId").asInt, n.get("addedVersion").asLong,
      n.get("minKey").asLong, n.get("maxKey").asLong, stats,
      Option(n.get("bucket")).map(_.asInt).getOrElse(-1),
      Option(n.get("sorted")).exists(_.asBoolean),
      Option(n.get("bloom")).map(_.asText), nulls,
      Option(n.get("parts")) match {
        case Some(pa) => pa.elements().asScala
          .map(e => if (e.isNull) None else Some(e.asLong)).toVector
        case None => Option(n.get("part")) match {
          case Some(p) if p.isNull => Vector(None) // NULL partition
          case Some(p) => Vector(Some(p.asLong))
          case None => Vector.empty // pre-spec file
        }
      },
      Option(n.get("groups")).map(_.elements().asScala
        .map(_.asLong).toVector).getOrElse(Vector.empty))
  }
  private def filesJson(fs: Vector[FileRef]): ArrayNode = {
    val a = mapper.createArrayNode(); fs.foreach(f => a.add(fileToJson(f))); a
  }
  private def filesFrom(n: JsonNode): Vector[FileRef] =
    n.elements().asScala.map(fileFrom).toVector
  private def masksJson(ms: Vector[DeltaMask]): ArrayNode = {
    val a = mapper.createArrayNode()
    ms.foreach { m =>
      val o = mapper.createObjectNode()
      o.put("version", m.version); o.set[ObjectNode]("keyFiles", filesJson(m.keyFiles))
      a.add(o)
    }
    a
  }
  private def masksFrom(n: JsonNode): Vector[DeltaMask] =
    n.elements().asScala.map(m =>
      DeltaMask(m.get("version").asLong, filesFrom(m.get("keyFiles")))).toVector

  // ---------------------------------------- multi-table txn visibility

  private def txnDir: JPath = Paths.get(root, "_txn")
  private[sources] def txnMarker(id: String, state: String): JPath =
    txnDir.resolve(s"$id.$state")
  /** Committed markers are TERMINAL — cache positives forever. */
  private val committedTxns =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  def txnCommitted(id: String): Boolean =
    committedTxns.contains(id) || {
      val c = Files.exists(txnMarker(id, "committed"))
      if (c) committedTxns.add(id): Unit
      c
    }
  def txnAborted(id: String): Boolean = Files.exists(txnMarker(id, "aborted"))

  /** Manifest-path → txn stamp, from a STREAMING PREFIX read (the stamp
    * is the first JSON field when present; absence is decided by the
    * first field name) — head-visibility checks never pay a full parse.
    * Cached only for TERMINAL answers: None (a plain manifest is
    * immutable) and committed stamps; a PENDING stamp is re-read every
    * time because an abort deletes the file and frees its path. */
  private val txnStampCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[String]]()
  private def txnStampOf(p: JPath): Option[String] = {
    val key = p.toString
    val cached = txnStampCache.get(key)
    if (cached != null) return cached
    val in = Files.newInputStream(p)
    val stamp =
      try {
        val jp = mapper.getFactory.createParser(in)
        try {
          jp.nextToken() // START_OBJECT
          jp.nextToken() // first FIELD_NAME
          if (jp.currentName() == "txn") { jp.nextToken(); Some(jp.getText) }
          else None
        } finally jp.close()
      } finally in.close()
    if (stamp.isEmpty || stamp.exists(txnCommitted))
      txnStampCache.put(key, stamp): Unit
    stamp
  }

  /** Is version `id` of `name` readable — plain, or its txn committed?
    * A manifest deleted mid-check (abort cleanup racing a reader) is
    * simply not visible. */
  private def manifestVisible(name: String, id: Long): Boolean =
    try txnStampOf(logDir(name).resolve(f"v$id%05d.json")).forall(txnCommitted)
    catch { case _: java.nio.file.NoSuchFileException => false }

  private[sources] def txnBegin(id: String, tables: Seq[String]): Unit = {
    Files.createDirectories(txnDir)
    val o = mapper.createObjectNode()
    val arr = mapper.createArrayNode()
    tables.foreach(arr.add(_): Unit)
    o.set[ObjectNode]("tables", arr)
    Files.write(txnMarker(id, "begin"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)): Unit
  }
  private[sources] def txnTables(id: String): Seq[String] = {
    val p = txnMarker(id, "begin")
    require(Files.exists(p), s"graft_fs: unknown transaction $id")
    mapper.readTree(Files.readAllBytes(p)).get("tables")
      .elements().asScala.map(_.asText).toSeq
  }
  /** THE commit point: one atomic marker create makes every pending
    * manifest stamped `id` visible across all participating tables. */
  private[sources] def txnCommitMark(id: String): Unit = {
    require(!txnAborted(id), s"graft_fs: transaction $id already aborted")
    Files.createDirectories(txnDir)
    Files.createFile(txnMarker(id, "committed")): Unit
  }
  private[sources] def txnAbortMark(id: String): Unit = {
    require(!txnCommitted(id), s"graft_fs: transaction $id already committed")
    Files.createDirectories(txnDir)
    if (!Files.exists(txnMarker(id, "aborted")))
      Files.createFile(txnMarker(id, "aborted")): Unit
  }
  /** Abort cleanup: delete `name`'s pending manifest stamped `id` (ids
    * above the visible head only — a pending version is always newer). */
  private[sources] def deletePendingManifest(name: String, id: String): Unit = {
    val d = logDir(name)
    if (!Files.isDirectory(d)) return
    listNames(d).collect {
      case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong
    }.sorted.reverseIterator
      .takeWhile(v => !manifestVisible(name, v))
      .foreach { v =>
        val p = d.resolve(f"v$v%05d.json")
        if (txnStampOf(p).contains(id)) Files.deleteIfExists(p): Unit
      }
  }

  private def writeManifest(name: String, v: Version): Unit = {
    val o = mapper.createObjectNode()
    // the txn stamp goes FIRST so pending-detection can stop after a few
    // bytes of streaming parse ([[txnStampOf]]) instead of re-reading a
    // large manifest's schema lineage and file lists
    v.txnId.foreach(t => o.put("txn", t): Unit)
    o.put("version", v.id); o.put("tsMs", v.tsMs)
    o.put("schemaId", v.schemaId); o.put("maxFieldId", v.maxFieldId)
    o.put("rowCount", v.rowCount); o.put("bucketN", v.bucketN)
    if (v.bloomIds.nonEmpty) {
      val bi = mapper.createArrayNode()
      v.bloomIds.foreach(bi.add(_): Unit)
      o.set[ObjectNode]("bloomIds", bi)
    }
    if (v.ngramIds.nonEmpty) {
      val ni = mapper.createArrayNode()
      v.ngramIds.foreach(ni.add(_): Unit)
      o.set[ObjectNode]("ngramIds", ni)
    }
    val lin = mapper.createArrayNode()
    v.lineage.foreach(s => lin.add(s.json))
    o.set[ObjectNode]("lineage", lin)
    o.set[ObjectNode]("files", filesJson(v.files))
    o.set[ObjectNode]("masks", masksJson(v.masks))
    val ch = mapper.createArrayNode()
    v.changes.foreach { c =>
      val co = mapper.createObjectNode()
      co.put("op", c.op); co.put("rows", c.rows)
      co.set[ObjectNode]("files", filesJson(c.files))
      co.set[ObjectNode]("masks", masksJson(c.masks))
      co.set[ObjectNode]("keys", filesJson(c.keys))
      ch.add(co)
    }
    o.set[ObjectNode]("changes", ch)
    val ep = mapper.createObjectNode()
    v.epochs.foreach { case (q, e) => ep.put(q, e) }
    o.set[ObjectNode]("epochs", ep)
    Files.createDirectories(logDir(name))
    // Tmp names must be collision-proof: two committers racing the same
    // version id under load CAN draw the same nanoTime tick (observed in
    // the 160-append contention test — Files.write truncates the shared
    // tmp silently and the loser's createLink dies on NoSuchFile after
    // the winner unlinks it). A per-process UUID makes the path unique
    // regardless of clock resolution or thread scheduling.
    val tmp = logDir(name).resolve(
      f".tmp-v${v.id}%05d-${java.util.UUID.randomUUID().toString}")
    Files.write(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o))
    val target = logDir(name).resolve(f"v${v.id}%05d.json")
    // ATOMIC publish with CREATE-NEW semantics: POSIX rename() REPLACES
    // an existing target, so Files.move(ATOMIC_MOVE) would let two
    // concurrent commits silently clobber each other (caught by the
    // FsTableSpec race test: 40 "successful" commits, 9 surviving
    // versions). A hard LINK is atomic AND fails with
    // FileAlreadyExistsException when the version id is taken — exactly
    // one winner per id; the loser throws and its data files stay
    // orphaned (vacuum's job), never half-visible.
    try {
      Files.createLink(target, tmp)
      Files.deleteIfExists(tmp): Unit
    } catch { case e: java.nio.file.FileAlreadyExistsException =>
      Files.deleteIfExists(tmp)
      // discriminate the occupant: an ordinary loser retries, but a
      // PENDING transaction manifest holds the id until its txn resolves
      // (retrying against it would livelock), and a crashed-abort
      // leftover is finished here (aborted manifests are deleted, the id
      // freed) before surfacing as an ordinary race
      val occupant =
        try { if (Files.exists(target)) txnStampOf(target) else None }
        catch { case scala.util.control.NonFatal(_) => None }
      occupant match {
        case Some(t) if txnAborted(t) =>
          Files.deleteIfExists(target): Unit
        case Some(t) if !txnCommitted(t) =>
          throw new IllegalStateException(
            s"graft_fs($name): version ${v.id} is held by in-flight " +
              s"transaction $t — commit or abort it first", e)
        case _ => ()
      }
      throw new IllegalStateException(
        s"graft_fs($name): concurrent commit of version ${v.id} — retry", e)
    case e: java.nio.file.NoSuchFileException =>
      // Defense in depth: the tmp vanished under us. With UUID tmp names
      // this should be impossible, but if any path collision (or an
      // external sweep) unlinks the tmp between write and publish, the
      // append itself is still valid — surface it as the retryable
      // concurrent-commit race, never as a nonsense NoSuchFile crash.
      throw new IllegalStateException(
        s"graft_fs($name): concurrent commit of version ${v.id} — retry " +
          "(tmp manifest vanished during publish)", e)
    }
  }

  private def readManifest(name: String, id: Long): Version = {
    val p = logDir(name).resolve(f"v$id%05d.json")
    require(Files.exists(p),
      s"graft_fs($name): no version $id — retained versions are " +
        s"0..${currentVersion(name)}")
    val o = mapper.readTree(Files.readAllBytes(p))
    val lineage = o.get("lineage").elements().asScala
      .map(n => DataType.fromJson(n.asText).asInstanceOf[StructType]).toVector
    val changes = o.get("changes").elements().asScala.map { c =>
      Change(c.get("op").asText, filesFrom(c.get("files")),
        masksFrom(c.get("masks")), filesFrom(c.get("keys")),
        c.get("rows").asLong)
    }.toVector
    val epochs = Option(o.get("epochs")).map { ep =>
      ep.properties().asScala.map(e => e.getKey -> e.getValue.asLong).toMap
    }.getOrElse(Map.empty[String, Long])
    val txn = Option(o.get("txn")).map(_.asText)
    txn.foreach(t => require(txnCommitted(t),
      s"graft_fs($name): version $id belongs to unresolved transaction " +
        s"$t — not readable until it commits"))
    Version(o.get("version").asLong, o.get("tsMs").asLong,
      o.get("schemaId").asInt, lineage, o.get("maxFieldId").asInt,
      filesFrom(o.get("files")), masksFrom(o.get("masks")), changes,
      o.get("rowCount").asLong, epochs,
      Option(o.get("bucketN")).map(_.asInt).getOrElse(0),
      Option(o.get("bloomIds")).map(_.elements().asScala.map(_.asInt).toVector)
        .getOrElse(Vector.empty),
      Option(o.get("ngramIds")).map(_.elements().asScala.map(_.asInt).toVector)
        .getOrElse(Vector.empty),
      txn)
  }

  // ------------------------------------------------------------- catalog

  def exists(name: String): Boolean =
    Files.isDirectory(logDir(name)) && currentVersionOpt(name).isDefined

  private def currentVersionOpt(name: String): Option[Long] = {
    val d = logDir(name)
    if (!Files.isDirectory(d)) None
    else {
      val vs = listNames(d).collect {
        case s if s.startsWith("v") && s.endsWith(".json") =>
          s.stripPrefix("v").stripSuffix(".json").toLong
      }
      // the visible head: skip PENDING/ABORTED txn manifests (at most
      // one per in-flight txn, always above the visible head — the
      // common case costs one streaming-prefix read of the max id)
      vs.sorted.reverseIterator.find(manifestVisible(name, _))
    }
  }
  def currentVersion(name: String): Long = currentVersionOpt(name).getOrElse(
    throw new IllegalArgumentException(s"graft_fs($name): no such table"))

  def versionAt(name: String, v: Long): Version = readManifest(name, v)
  def current(name: String): Version = versionAt(name, currentVersion(name))
  def schemaOf(name: String): StructType = current(name).schema
  def schemaAt(name: String, v: Long): StructType = versionAt(name, v).schema
  def appendOnly(name: String, v: Long): Boolean = versionAt(name, v).appendOnly
  def open(name: String, pinnedVersion: Option[Long], delta: Boolean,
      changes: Boolean): org.apache.spark.sql.connector.catalog.Table =
    new FsTable(name, pinnedVersion, delta, changes)

  /** The file change log: file-referenced change entries, rows sized by
    * the version's manifest average (bytes / rows, no file reads), and
    * each slice cut per change entry by [[FsScanPlanner.slicePartitions]].
    * The lineage is pinned at stream start; a metadata-only ALTER slips
    * past the append-only check (empty change list), so a post-ALTER
    * append carries a schemaId beyond it — refused with the explicit
    * restart error, not an opaque IndexOutOfBounds in the reader. */
  def feedLog(name: String, cdf: Boolean): FeedLog = new FeedLog {
    private val start = current(name)
    private val lineage = start.lineage
    private val dataSchema = start.schema
    def sliceLen(v: Long): Long = versionAt(name, v).changes.map(_.rows).sum
    def rowBytes(v: Long): Long => Long = {
      val cs = versionAt(name, v).changes
      val rows = cs.map(_.rows).sum
      val perRow =
        if (rows <= 0) 1L else math.max(1L, cs.flatMap(_.files).map(_.bytes).sum / rows)
      _ => perRow
    }
    def partitions(slices: Seq[FeedSlice]): Array[InputPartition] =
      slices.iterator.flatMap { case FeedSlice(v, from, until) =>
        val ver = versionAt(name, v)
        ver.changes.iterator.flatMap(c => c.files.iterator ++ c.keys.iterator)
          .find(_.schemaId >= lineage.length)
          .foreach(_ => throw new IllegalStateException(
            s"graft_fs($name): version $v was written under a schema that " +
              "evolved after this stream started — restart the stream to " +
              "pick up the new schema"))
        // walk this version's changes with cumulative counts, slicing
        // each overlapping entry
        ver.changes.zip(ver.changes.scanLeft(0L)(_ + _.rows)).flatMap { case (c, cum) =>
          val (cFrom, cUntil) = (math.max(from, cum), math.min(until, cum + c.rows))
          if (cUntil <= cFrom) Nil
          else FsScanPlanner.slicePartitions(c, v, lineage, dataSchema,
            cdf, cFrom - cum, cUntil - cFrom)
        }
      }.toArray
    // feed slices need per-row logic
    def readerFactory: PartitionReaderFactory = new FsReaderFactory(columnar = false)
  }

  /** Newest RETAINED version whose commit timestamp is ≤ `tsMs`. Walks
    * lazily head→oldest and stops at the first hit, so a lookup reads
    * one manifest in the common head case — and [[expireVersions]]
    * cannot brick it (the eager `0..head` sweep used to throw
    * "no version 0" for ANY timestamp once version 0 was expired, even
    * when the target version was retained — the mem store's
    * retained-history semantics, restored). Tables written without
    * [[GraftClock]] have tsMs = -1 on every version → refusal. */
  def versionAsOfTimestamp(name: String, tsMs: Long): Long = {
    val head = current(name)
    require(head.tsMs >= 0,
      s"graft_fs($name): table has no commit timestamps (written without " +
        "a commit clock) — use VERSION AS OF, or install GraftClock before " +
        "writing")
    val oldest = oldestVersion(name)
    Iterator.iterate(head.id)(_ - 1).takeWhile(_ >= oldest)
      .map(v => if (v == head.id) head else versionAt(name, v))
      .find(v => v.tsMs >= 0 && v.tsMs <= tsMs)
      .map(_.id)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_fs($name): no retained version committed at or before " +
          s"timestamp $tsMs ms (earliest retained is " +
          s"${versionAt(name, oldest).tsMs})"))
  }

  /** Oldest RETAINED version committed AT OR AFTER `tsMs` — the Delta
    * CDF `startingTimestamp` contract (note the direction: time TRAVEL
    * pins the newest version ≤ t, a CHANGE FEED starts at the first
    * version ≥ t — "give me everything since"). Same clock rules as
    * [[versionAsOfTimestamp]]. */
  def versionSinceTimestamp(name: String, tsMs: Long): Long = {
    val head = current(name)
    require(head.tsMs >= 0,
      s"graft_fs($name): table has no commit timestamps (written without " +
        "a commit clock) — use startingVersion, or install GraftClock " +
        "before writing")
    (oldestVersion(name) to head.id).iterator
      .map(v => if (v == head.id) head else versionAt(name, v))
      .find(v => v.tsMs >= tsMs)
      .map(_.id)
      .getOrElse(throw new IllegalArgumentException(
        s"graft_fs($name): no retained version committed at or after " +
          s"timestamp $tsMs ms (newest is ${head.tsMs})"))
  }

  /** Microseconds per day — the `days(ts)` transform's granule. */
  val MicrosPerDay: Long = 86400L * 1000000L

  /** The table's VALUE-partition spec, fixed at CREATE (Iceberg's
    * initial partition spec reduced to the identity + time transforms):
    * ordered `(kind, fieldId)` fields where kind ∈ {identity, days,
    * hours, months, years}. COMPOSITE specs (`days(ts), identity(k)` —
    * the second-most-common fact layout) are first-class: the writer
    * routes rows by the whole tuple and the scan prunes conjunctively
    * per field. Stored table-level in `_part.json` — one spec for every
    * version, like `_view.json`. Field-id keyed, so the spec survives
    * renames and type widening. Empty = unpartitioned. */
  def partSpecOf(name: String): Vector[(String, Int)] = {
    val p = tableDir(name).resolve("_part.json")
    if (!Files.exists(p)) Vector.empty
    else {
      val o = mapper.readTree(Files.readAllBytes(p))
      Option(o.get("fields")) match {
        case Some(fs) => fs.elements().asScala
          .map(f => (f.get("kind").asText, f.get("fieldId").asInt)).toVector
        case None => // legacy single-field flat shape
          Vector((o.get("kind").asText, o.get("fieldId").asInt))
      }
    }
  }
  private def writePartSpec(name: String,
      fields: Seq[(String, Int)]): Unit = {
    val o = mapper.createObjectNode()
    val fs = mapper.createArrayNode()
    fields.foreach { case (kind, fieldId) =>
      val e = mapper.createObjectNode()
      e.put("kind", kind); e.put("fieldId", fieldId)
      fs.add(e): Unit
    }
    o.set[ObjectNode]("fields", fs)
    Files.createDirectories(tableDir(name))
    Files.write(tableDir(name).resolve("_part.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(o)): Unit
  }

  /** Resolve the table's partition spec to write-schema column indexes
    * by field id — LOUDLY: a spec field absent from the schema would
    * otherwise surface as `row.isNullAt(-1)` deep in the first write.
    * Absence means the spec file is corrupt or survived a re-CREATE it
    * should not have; refuse here with the real story. */
  def resolvePartSpec(name: String,
      schema: StructType): Vector[(String, Int)] =
    partSpecOf(name).map { case (kind, fid) =>
      val idx = schema.fields.indexWhere(f => fieldId(f) == fid)
      if (idx < 0) throw new IllegalStateException(
        s"graft_fs($name): partition spec field $kind(field id $fid) is " +
          "absent from the write schema — _part.json is corrupt or " +
          "inherited from a dropped incarnation of the table")
      (kind, idx)
    }

  /** LONG-encode a raw column value into partition space. Raw is the
    * column's InternalRow physical: µs since epoch for the time
    * transforms, the value itself for identity. Every transform is
    * MONOTONE in the raw value, which is what makes scan-side window
    * translation (`p < T(lo) || p > T(hi)`) a safe prune. */
  def partTransform(kind: String, raw: Long): Long = kind match {
    case "identity" => raw
    case "days" => Math.floorDiv(raw, MicrosPerDay)
    case "hours" => Math.floorDiv(raw, 3600L * 1000000L)
    case "months" =>
      val d = java.time.LocalDate.ofEpochDay(Math.floorDiv(raw, MicrosPerDay))
      (d.getYear - 1970).toLong * 12L + (d.getMonthValue - 1)
    case "years" =>
      java.time.LocalDate.ofEpochDay(Math.floorDiv(raw, MicrosPerDay))
        .getYear.toLong - 1970L
    case t if t.startsWith("truncate:") =>
      // Iceberg's integer truncate: v - (v mod W) — monotone, so the
      // scan-side window translation prunes soundly
      val w = t.substring("truncate:".length).toLong
      raw - Math.floorMod(raw, w)
    case other => throw new IllegalArgumentException(
      s"unknown partition transform $other")
  }

  def create(name: String, schema: StructType, bucketN: Int = 0,
      bloomCols: Seq[String] = Nil, ngramCols: Seq[String] = Nil,
      partFields: Seq[(String, String)] = Nil): Unit = {
    require(schema.fields.nonEmpty, s"graft_fs($name): empty schema")
    if (bucketN > 0) {
      require(schema.fields.head.dataType == LongType ||
        schema.fields.head.dataType == IntegerType,
        s"graft_fs($name): bucket partitioning requires an integral first " +
          s"(row-id) column, got ${schema.fields.head.dataType.simpleString}")
      // bucket COMPOSES with value partitioning (the SPJ + time-pruning
      // fact layout: bucket(n, id) for exchange-free joins, days(ts)
      // for window pruning) — the writer routes by (bucket, tuple)
    }
    schema.fields.foreach(f => require(FsParquet.supportedType(f.dataType),
      s"graft_fs($name): unsupported column type ${f.dataType.simpleString} " +
        s"for ${f.name} (fs tables admit the atomics incl. decimal/" +
        "timestamp/date/binary, one-level atomic arrays, nested structs " +
        "of these, and atomic-keyed maps; arrays of structs/maps refuse)"))
    require(schema.fields.head.dataType match {
      case _: StructType | _: MapType => false
      case _ => true
    }, s"graft_fs($name): the first (row-id / mask key) column must be " +
      "an atomic, not a struct/map")
    val (withIds, maxId) = assignFieldIds(schema)
    // bloom-indexed columns resolve to FIELD IDS at create, so the index
    // declaration survives renames; only equality-probe-able kinds admit
    // one (doubles decline: float equality is a data-quality bug, not a
    // lookup shape, and NaN would poison the hash space)
    val bloomIds = bloomCols.toVector.map { c =>
      val f = withIds.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(
          s"graft_fs($name): bloom column $c is not in the schema"))
      require(statKind(f.dataType).exists(k => k == "long" || k == "string"),
        s"graft_fs($name): bloom index on ${f.dataType.simpleString} column " +
          s"$c unsupported (integral/timestamp/date/string columns only)")
      fieldId(f)
    }
    // ngram-bloom columns (substring skipping) are STRING-only: the
    // gram space is the column's raw UTF8 bytes, matching Spark's
    // byte-level contains/startsWith/endsWith semantics exactly
    val ngramIds = ngramCols.toVector.map { c =>
      val f = withIds.fields.find(_.name == c).getOrElse(throw
        new IllegalArgumentException(
          s"graft_fs($name): ngram-bloom column $c is not in the schema"))
      require(f.dataType == org.apache.spark.sql.types.StringType,
        s"graft_fs($name): ngram index on ${f.dataType.simpleString} column " +
          s"$c unsupported (substring predicates are a string shape)")
      fieldId(f)
    }
    if (exists(name)) throw new IllegalStateException(
      s"graft_fs($name): table already exists")
    // A previous create() that died between spec and v0 manifest can
    // leave a stale _part.json; a re-CREATE must never inherit it (the
    // stale field id could miss the new schema and crash the first
    // write). Clear it here, and publish the spec only AFTER the v0
    // manifest lands so the crash window can no longer produce one.
    Files.deleteIfExists(tableDir(name).resolve("_part.json")): Unit
    val timeKinds = Set("days", "hours", "months", "years")
    val resolvedSpec = partFields.map { case (kind, partCol) =>
      require(kind == "identity" || timeKinds.contains(kind) ||
        kind.startsWith("truncate:"),
        s"graft_fs($name): unknown partition transform $kind")
      val f = withIds.fields.find(_.name == partCol).getOrElse(throw
        new IllegalArgumentException(
          s"graft_fs($name): partition column $partCol is not in the schema"))
      if (timeKinds.contains(kind))
        require(f.dataType == TimestampType,
          s"graft_fs($name): $kind() partitions a TIMESTAMP column, got " +
            f.dataType.simpleString)
      else if (kind.startsWith("truncate:")) {
        val w = try kind.substring("truncate:".length).toLong
          catch { case _: NumberFormatException => 0L }
        require(w > 0,
          s"graft_fs($name): truncate width must be a positive integer")
        require(Set[DataType](LongType, IntegerType).contains(f.dataType),
          s"graft_fs($name): truncate($w) partitions integral columns, " +
            s"got ${f.dataType.simpleString}")
      } else require(Set[DataType](LongType, IntegerType, DateType)
        .contains(f.dataType),
        s"graft_fs($name): identity partitioning admits integral/date " +
          s"columns, got ${f.dataType.simpleString}")
      (kind, fieldId(f))
    }
    require(resolvedSpec.map(_._2).distinct.size == resolvedSpec.size,
      s"graft_fs($name): a column appears twice in the partition spec")
    writeManifest(name, Version(0L, GraftClock.next(), 0, Vector(withIds),
      maxId, Vector.empty, Vector.empty, Vector.empty, 0L,
      Map.empty, bucketN, bloomIds, ngramIds))
    // spec AFTER the manifest: a crash here leaves a valid unpartitioned
    // table (fails soft), never a stale spec haunting a re-CREATE
    if (resolvedSpec.nonEmpty) writePartSpec(name, resolvedSpec)
  }

  def drop(name: String): Unit = {
    // purge the txn-stamp cache for this table's manifests: a DROP +
    // re-CREATE reuses manifest PATHS, and a cached terminal stamp from
    // the old incarnation must not decide visibility for the new one
    // (a recreated table's PENDING v1 would look committed through the
    // old v1's cached stamp — the q316-under-repetition bug)
    val prefix = tableDir(name).toString + java.io.File.separator
    txnStampCache.keySet.removeIf(_.startsWith(prefix)): Unit
    graft.Tables.deleteRecursively(tableDir(name).toFile)
  }
  def tableNames: Seq[String] = {
    val r = Paths.get(root)
    if (!Files.isDirectory(r)) Seq.empty
    else listNames(r)
      .filter(n => Files.isDirectory(r.resolve(n).resolve("_log")))
      .sorted
  }
  /** Bench-sweep hook: drop every fs table (scratch state between
    * queries, the MemStore.drop analog). */
  def dropAll(): Unit = tableNames.foreach(drop)

  /** Zone-map stat kind tracked for a column type (None = no stats,
    * never skip). TIMESTAMP/DATE share the integral kind (their
    * InternalRow physicals); INT normalizes to long and FLOAT to double
    * at write so stats stay comparable across type WIDENING. Decimals,
    * booleans and arrays track none — a bool zone map is worthless and
    * the rest need scale-aware orders not worth the manifest bytes. */
  def statKind(dt: DataType): Option[String] = dt match {
    case LongType | IntegerType | TimestampType | DateType => Some("long")
    case DoubleType | FloatType => Some("double")
    case StringType => Some("string")
    case _ => None
  }

  // ------------------------------------------------------------ field ids

  private val FieldIdKey = "graft.fieldId"
  def fieldId(f: StructField): Int =
    if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey).toInt
    else -1
  def withFieldId(f: StructField, id: Int): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(FieldIdKey, id.toLong).build())

  /** Assign Iceberg-style field ids DEPTH-FIRST to every field,
    * INCLUDING nested struct members (parent before children — flat
    * schemas keep the historical 0..n-1 top-level numbering, so every
    * pre-nested manifest reads back unchanged). Returns the id-stamped
    * schema and the max id assigned. */
  def assignFieldIds(schema: StructType, start: Int = 0): (StructType, Int) = {
    var next = start
    def walk(st: StructType): StructType = StructType(st.fields.map { f =>
      val id = next
      next += 1
      val dt = f.dataType match {
        case s: StructType => walk(s)
        case other => other
      }
      withFieldId(f.copy(dataType = dt), id)
    })
    val stamped = walk(schema)
    (stamped, next - 1)
  }

  /** Depth-first `(dottedName, field)` pairs of every NON-STRUCT leaf,
    * top-level atomics included — the name space pushed predicates and
    * stats address (`props.x` for nested leaves). Struct nodes
    * themselves are not leaves; map entries are not enumerable. */
  def leafFields(schema: StructType): Seq[(String, StructField)] = {
    val out = Seq.newBuilder[(String, StructField)]
    def walk(st: StructType, prefix: String): Unit =
      st.fields.foreach { f =>
        val name = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case s: StructType => walk(s, name)
          case _ => out += ((name, f))
        }
      }
    walk(schema, "")
    out.result()
  }

  // -------------------------------------------------------------- commits

  /** All commits funnel through here: read the head, derive the next
    * version, publish its manifest (atomic rename = the commit point).
    * Concurrent commits race on the version id — exactly one rename
    * wins, the loser throws and its files become vacuum-able orphans. */
  private def install(name: String)(next: Version => Version): Unit = {
    val head = current(name)
    writeManifest(name, next(head))
  }

  /** The data-commit guard: task files are stamped with the HEAD's
    * schemaId at install time, so the head schema must still be the one
    * the tasks wrote under — a concurrent ALTER between write start and
    * commit would otherwise durably mis-tag files in the manifest
    * (later reads map columns by the wrong lineage entry). The loser
    * throws; its files stay orphans for vacuum — same outcome as losing
    * the version-id race. */
  private def requireSchemaUnchanged(name: String, v: Version,
      writeSchemaId: Int): Unit =
    require(v.schemaId == writeSchemaId,
      s"graft_fs($name): schema evolved during the write (tasks wrote " +
        s"under schema $writeSchemaId, head is now ${v.schemaId}) — retry " +
        "the write against the new schema")

  /** OPTIMISTIC RETRY for APPEND-class commits (the Delta/Iceberg
    * conflict rule, reduced): a blind append is serializable against
    * ANY concurrent commit — its files reference no prior snapshot, so
    * re-deriving from the new head and re-publishing is always correct.
    * Losers of the manifest-id race therefore retry here instead of
    * surfacing. Everything snapshot-DEPENDENT stays a loud loser:
    * truncate/CoW rewrites were computed FROM a snapshot (a retry would
    * silently drop the concurrent commit's rows — lost update), delta
    * commits' masks would swallow a concurrently appended row with a
    * matching key, and maintenance rewrites re-validate their file sets
    * against the head anyway. The schema guard still applies per
    * attempt: an ALTER racing the write stays a loud failure.
    * Progress is system-wide guaranteed (every race has exactly one
    * winner), so the cap only guards a true livelock bug — it is sized
    * far above any real contention, not as back-pressure. */
  private def retryingConcurrent(name: String, attempts: Int = 1000)(
      body: => Unit): Unit = {
    var n = 0
    while (true) {
      try { body; return } catch {
        case e: IllegalStateException if n < attempts &&
            e.getMessage != null && e.getMessage.contains("concurrent commit") =>
          n += 1 // re-derive from the new head on the next attempt
      }
    }
  }

  def commitAppend(name: String, files: Vector[FileRef],
      writeSchemaId: Int): Unit = retryingConcurrent(name) {
    install(name) { v =>
      requireSchemaUnchanged(name, v, writeSchemaId)
      withFiles(v, files, replace = false)
    }
  }

  /** Truncate-install (CoW row-level ops land here): the new snapshot is
    * exactly `files`. */
  def commitTruncate(name: String, files: Vector[FileRef],
      writeSchemaId: Int): Unit =
    install(name) { v =>
      requireSchemaUnchanged(name, v, writeSchemaId)
      withFiles(v, files, replace = true)
    }

  /** The version that installs `files` on `v`: appended to its snapshot,
    * or (`replace`) as the whole new snapshot, whose change log records
    * the WHOLE previous snapshot as deletes (file-referenced pre-images)
    * — same vocabulary as [[MemStore.commitTruncate]]. The files are
    * stamped with the head's schema id and the new version id; the
    * change log lists each as an insert. */
  private def withFiles(v: Version, files: Vector[FileRef],
      replace: Boolean): Version = {
    val added = files.map(_.copy(schemaId = v.schemaId, addedVersion = v.id + 1))
    val deleted =
      if (replace && v.rowCount > 0)
        Vector(Change(OpDelete, v.files, v.masks, Vector.empty, v.rowCount))
      else Vector.empty
    Version(v.id + 1, GraftClock.next(), v.schemaId, v.lineage, v.maxFieldId,
      if (replace) added else v.files ++ added,
      if (replace) Vector.empty else v.masks,
      deleted ++ added.map(f =>
        Change(OpInsert, Vector(f), Vector.empty, Vector.empty, f.rows)),
      (if (replace) 0L else v.rowCount) + added.map(_.rows).sum,
      v.epochs, v.bucketN, v.bloomIds, v.ngramIds)
  }

  /** MERGE-ON-READ delta commit: `delKeys`/`updKeys` become a read-side
    * mask over older files, `updRows`/`inserts` join the snapshot as
    * data files — the write cost tracks the CHANGE size (Iceberg's
    * merge-on-read shape; an UPDATE touching 0.1% of 100 TB ships that
    * 0.1%, never rewrites groups). The change log reconstructs exact
    * pre-images AT READ by filtering the previous snapshot to the key
    * files — the commit itself never scans the table. Phantom-id
    * validation is structural here: Spark's `WriteDelta` derives every
    * operation from a scan of this same table, so an id absent from the
    * snapshot cannot reach the writer (the in-memory testbed double-
    * checks because it holds the rows anyway; a file store would pay a
    * full scan to re-verify what the plan already guarantees). */
  def commitDelta(name: String, delKeys: Vector[FileRef],
      updKeys: Vector[FileRef], updRows: Vector[FileRef],
      inserts: Vector[FileRef], writeSchemaId: Int): Unit =
    install(name)(deltaNext(name, _, delKeys, updKeys, updRows, inserts,
      writeSchemaId))

  /** [[commitDelta]] with an epoch high-water mark stamped in the SAME
    * manifest — the exactly-once merge-on-read refresh commit
    * ([[FsMatView]]'s delta mode). Returns false (installs nothing) on
    * a replayed mark; the caller deletes its just-written files. */
  def commitDeltaWithEpoch(name: String, delKeys: Vector[FileRef],
      updKeys: Vector[FileRef], updRows: Vector[FileRef],
      inserts: Vector[FileRef], writeSchemaId: Int,
      epochKey: String, epochVal: Long): Boolean =
    installMarked(name, epochKey, epochVal)(deltaNext(name, _, delKeys,
      updKeys, updRows, inserts, writeSchemaId))

  /** Install `next`'s version with the high-water mark `key -> value`
    * stamped in the SAME manifest — unless the head's mark is already at
    * or past `value` (past it, when `allowSame` accepts a commit at the
    * current mark): then nothing is installed and the result is false
    * (a replay). */
  private def installMarked(name: String, key: String, value: Long,
      allowSame: Boolean = false)(next: Version => Version): Boolean = {
    def fresh(v: Version): Boolean = {
      val mark = v.epochs.getOrElse(key, -1L)
      value > mark || (allowSame && value == mark)
    }
    if (!fresh(current(name))) return false
    install(name) { v =>
      require(fresh(v), s"graft_fs($name): $key=$value raced a concurrent " +
        "commit that already applied it")
      val n = next(v)
      n.copy(epochs = n.epochs + (key -> value))
    }
    true
  }

  /** The version a delta commit installs on `v`. */
  private def deltaNext(name: String, v: Version, delKeys: Vector[FileRef],
      updKeys: Vector[FileRef], updRows: Vector[FileRef],
      inserts: Vector[FileRef], writeSchemaId: Int): Version = {
    requireSchemaUnchanged(name, v, writeSchemaId)
    val nextId = v.id + 1
    val delN = delKeys.map(_.rows).sum
    val updN = updKeys.map(_.rows).sum
    require(updN == updRows.map(_.rows).sum,
      s"graft_fs($name): delta commit update keys ($updN) and update " +
        s"rows (${updRows.map(_.rows).sum}) disagree")
    val at = (f: FileRef) => f.copy(schemaId = v.schemaId, addedVersion = nextId)
    val updFiles = updRows.map(at)
    val insFiles = inserts.map(at)
    val maskFiles = (delKeys ++ updKeys).map(at)
    val changes =
      (if (delN > 0)
        Vector(Change(OpDelete, v.files, v.masks, delKeys.map(at), delN))
      else Vector.empty) ++
      (if (updN > 0)
        Vector(Change(OpUpdatePre, v.files, v.masks, updKeys.map(at), updN),
          Change(OpUpdatePost, updFiles, Vector.empty, Vector.empty, updN))
      else Vector.empty) ++
      insFiles.map(f => Change(OpInsert, Vector(f), Vector.empty, Vector.empty, f.rows))
    Version(nextId, GraftClock.next(), v.schemaId, v.lineage, v.maxFieldId,
      v.files ++ updFiles ++ insFiles,
      if (maskFiles.isEmpty) v.masks else v.masks :+ DeltaMask(nextId, maskFiles),
      changes,
      v.rowCount - delN + insFiles.map(_.rows).sum,
      v.epochs, v.bucketN, v.bloomIds, v.ngramIds)
  }

  /** COMPACTION install (the commit half of OPTIMIZE — see
    * [[FsMaintenance.compact]]): swap `removed` small files for `added`
    * compacted ones in ONE manifest, with the SAME rows. NOT a logical
    * change: the change log stays EMPTY, so the CDF serves nothing for
    * this version, the plain feed's slice is zero-length, and epoch
    * high-water marks ride along untouched — consumers never see a
    * compaction. Old files stay on disk for retained versions' time
    * travel; expiry + vacuum reclaims them. Guards: schema pinned
    * (concurrent ALTER loses), every removed file still in the snapshot
    * (concurrent writers lose), row counts preserved, and NO removed
    * file may carry an applicable delta mask — the compacted copy's
    * fresh addedVersion would escape the mask and resurrect masked rows. */
  /** `newBucketN ≥ 0` additionally flips the PARTITION SPEC (partition
    * evolution by rewrite — the caller must have re-routed every row:
    * the rewrite is required to be TOTAL, old layout fully replaced).
    * Time travel keeps the old spec: `bucketN` is per-version, so a
    * pinned pre-evolution read still reports the layout its files have. */
  def commitRewrite(name: String, removed: Vector[FileRef],
      added: Vector[FileRef], writeSchemaId: Int,
      newBucketN: Int = -1): Unit =
    install(name) { v =>
      requireSchemaUnchanged(name, v, writeSchemaId)
      val live = v.files.map(_.path).toSet
      removed.foreach { r =>
        require(live.contains(r.path),
          s"graft_fs($name): compaction raced a concurrent rewrite — " +
            s"${r.path} left the snapshot")
        require(!v.masks.exists(_.version > r.addedVersion),
          s"graft_fs($name): cannot compact ${r.path} — a delta mask " +
            "applies to it and the rewrite would resurrect masked rows")
      }
      require(removed.map(_.rows).sum == added.map(_.rows).sum,
        s"graft_fs($name): compaction must preserve rows " +
          s"(${removed.map(_.rows).sum} removed vs ${added.map(_.rows).sum} added)")
      if (newBucketN >= 0) {
        require(removed.map(_.path).toSet == live,
          s"graft_fs($name): a partition-spec change must rewrite the " +
            "WHOLE snapshot — partial rewrites would mix layouts")
        require(newBucketN == 0 ||
          added.forall(f => f.bucket >= 0 && f.bucket < newBucketN),
          s"graft_fs($name): rewritten files must land in the new spec's " +
            s"buckets [0, $newBucketN)")
      }
      val rm = removed.map(_.path).toSet
      val newAdded = added.map(_.copy(schemaId = v.schemaId, addedVersion = v.id + 1))
      Version(v.id + 1, GraftClock.next(), v.schemaId, v.lineage, v.maxFieldId,
        v.files.filterNot(f => rm.contains(f.path)) ++ newAdded,
        v.masks, Vector.empty, v.rowCount, v.epochs,
        if (newBucketN >= 0) newBucketN else v.bucketN, v.bloomIds, v.ngramIds)
    }

  /** Snapshot EXPIRY (Iceberg's `expireSnapshots`, Delta's log
    * retention): drop manifests older than the newest `keep` versions.
    * Version ids stay monotonic and an expired id becomes a load-time
    * range error (never a silent remap) — the mem store's MaxVersions
    * contract, here an explicit maintenance call because a FILE store's
    * natural bound is disk, not driver heap. Data files are NOT touched
    * (they may be shared with retained versions); [[vacuum]] reclaims
    * the ones no retained manifest references. */
  def expireVersions(name: String, keep: Int): Long = {
    require(keep >= 1, "must retain at least the head version")
    val head = currentVersion(name)
    val cutoff = head - keep + 1
    var dropped = 0L
    (0L until cutoff).foreach { v =>
      val p = logDir(name).resolve(f"v$v%05d.json")
      if (Files.deleteIfExists(p)) dropped += 1
    }
    dropped
  }

  /** Oldest version still retained (after any [[expireVersions]]). */
  def oldestVersion(name: String): Long =
    listNames(logDir(name)).collect {
      case s if s.startsWith("v") && s.endsWith(".json") =>
        s.stripPrefix("v").stripSuffix(".json").toLong
    }.min

  /** VACUUM: delete every data/key file under the table dir that NO
    * retained manifest references — orphans from aborted or lost jobs
    * (a task that died between writing and abort) and files whose last
    * referencing version was expired. Two-phase safety holds because
    * readers resolve files only through manifests: a file can be
    * deleted here iff no retained manifest names it, and commits
    * publish (rename) before returning, so there is no window where a
    * COMMITTED file looks unreferenced. An IN-FLIGHT two-phase write is
    * the one hazard: its task files exist before the manifest does, so
    * `retainMs` (Delta's `deletedFileRetentionDuration`, Iceberg's
    * `older_than`) skips files younger than the window — run with a
    * retention ≥ the longest write job, or only with no writes in
    * flight (retainMs = 0 keeps the testbed's deterministic
    * reclaim-everything behavior). Returns (files, bytes) reclaimed. */
  def vacuum(name: String, retainMs: Long = 0L): (Long, Long) = {
    val d = dataDir(name)
    if (!Files.isDirectory(d)) return (0L, 0L)
    val cutoff = System.currentTimeMillis() - retainMs
    // a LIVE BRANCH's manifests pin main-dir files too (an expired main
    // version's files may still serve the branch's history — Iceberg's
    // refs-retain-snapshots rule); branch data dirs are separate, so a
    // branch's own vacuum never sees main files and vice versa
    val referenced: Set[String] = (name +: branchesOf(name)).iterator
      .flatMap { tbl =>
        def refsOf: Iterator[String] =
          (oldestVersion(tbl) to currentVersion(tbl)).iterator
            .map(versionAt(tbl, _))
            .flatMap { v =>
              // a referenced data file pins its bloom sidecar too
              def paths(f: FileRef): Iterator[String] =
                Iterator(f.path) ++ f.bloom.iterator
              v.files.iterator.flatMap(paths) ++
                v.masks.iterator.flatMap(_.keyFiles).flatMap(paths) ++
                v.changes.iterator.flatMap(c =>
                  c.files.iterator.flatMap(paths) ++
                    c.keys.iterator.flatMap(paths) ++
                    c.masks.iterator.flatMap(_.keyFiles).flatMap(paths))
            }
        if (tbl == name) refsOf
        else try refsOf.toVector.iterator catch {
          // a branch dropped between the listing and this read no longer
          // pins anything — skip it rather than failing the vacuum
          case _: java.nio.file.NoSuchFileException |
               _: java.io.UncheckedIOException |
               _: IllegalArgumentException => Iterator.empty
        }
      }.toSet
    var files = 0L
    var bytes = 0L
    listNames(d).map(d.resolve).foreach { p =>
      if (!referenced.contains(p.toString) &&
          (retainMs <= 0L || Files.getLastModifiedTime(p).toMillis <= cutoff)) {
        bytes += Files.size(p)
        if (Files.deleteIfExists(p)) files += 1
      }
    }
    (files, bytes)
  }

  /** STREAMING epoch commit (the q274 contract on files): append
    * `files` for micro-batch `epochId` exactly once per writer query —
    * Structured Streaming re-delivers a failed epoch's commit under the
    * SAME id on restart, and the manifest carries a per-(queryId)
    * high-water mark, so a REPLAYED epoch installs no version and its
    * re-written files are reported back as orphans for the caller to
    * delete (the file sink's `_spark_metadata` log, as manifest state).
    * The version is [[commitAppend]]'s plus the mark. Returns true iff
    * the epoch committed (false = replay). */
  def commitEpochAppend(name: String, queryId: String, epochId: Long,
      files: Vector[FileRef], writeSchemaId: Int): Boolean = {
    // append-class: retried like commitAppend — each attempt re-reads
    // the head, so a replay detected mid-retry still returns false
    var committed = false
    retryingConcurrent(name) {
      committed = installMarked(name, queryId, epochId) { v =>
        requireSchemaUnchanged(name, v, writeSchemaId)
        withFiles(v, files, replace = false)
      }
    }
    committed
  }

  /** REPLACE-ADOPT commit for incremental view maintenance (see
    * [[FsMatView]]): atomically swap `name`'s contents for the files of
    * DONOR table's head snapshot AND stamp the epoch high-water mark
    * `epochKey -> epochVal` in the SAME manifest — the refresh's
    * exactly-once point. Donor data files are HARD-LINKED into `name`'s
    * data dir (the [[publishBranch]] discipline: dropping the donor
    * afterwards cannot orphan adopted data). A refresh whose mark is
    * already applied installs NOTHING and returns false (replay — e.g.
    * two concurrent refreshes computed from the same base version; both
    * produced identical contents, one adoption suffices). The change
    * log records full delete+insert (truncate shape), so a DOWNSTREAM
    * consumer can chain off the view's own CDF. */
  /** Donor/target schema compatibility for adopt-style commits: same
    * column names, types, and FIELD IDS in order — nullability and
    * other metadata differences (a SQL-DDL target is all-nullable, an
    * aggregate-written donor is not) don't affect the file mapping. */
  private def adoptCompatible(a: StructType, b: StructType): Boolean =
    a.length == b.length && a.fields.zip(b.fields).forall { case (x, y) =>
      x.name == y.name && x.dataType == y.dataType && fieldId(x) == fieldId(y)
    }

  /** Hard-link a donor-table file into `name`'s data dir (idempotent;
    * non-donor paths pass through) — the [[publishBranch]] discipline
    * that lets the donor be dropped without orphaning adopted data. */
  private def relinkInto(name: String, donorData: String)(p: String): String =
    if (!p.startsWith(donorData)) p
    else {
      val target = dataDir(name).resolve(Paths.get(p).getFileName)
      Files.createDirectories(dataDir(name))
      if (!Files.exists(target)) Files.createLink(target, Paths.get(p))
      target.toString
    }

  /** `allowSame`: accept a swap at the CURRENT mark — the view
    * compactor's non-logical rewrite (same contents, mask-free files). */
  def adoptReplace(name: String, donor: String,
      epochKey: String, epochVal: Long,
      allowSame: Boolean = false): Boolean = {
    val d = current(donor)
    require(d.masks.isEmpty,
      s"graft_fs($name): adopt donor $donor carries delta masks — " +
        "adopted files get a fresh addedVersion, which would escape them")
    val relink = relinkInto(name, dataDir(donor).toString) _
    installMarked(name, epochKey, epochVal, allowSame) { v =>
      require(adoptCompatible(v.schema, d.schema),
        s"graft_fs($name): adopt donor schema ${d.schema.simpleString} " +
          s"does not match view schema ${v.schema.simpleString}")
      withFiles(v, d.files.map(f => f.copy(path = relink(f.path),
        bloom = f.bloom.map(relink))), replace = true)
    }
  }

  /** TXN install (the prepare half of [[FsTxn]]): append — or, with
    * `replace`, swap in — DONOR's head snapshot as a PENDING manifest
    * stamped `txnId`. The version is invisible to every reader and
    * BLOCKS later commits on this table (writers fail loudly against an
    * unresolved txn head) until the txn's one commit-marker create
    * resolves all participating tables together, or an abort deletes
    * the manifest. Ordinary version-id races retry (append-class);
    * donor files are hard-linked so dropping the donor is safe either
    * way. Returns the pending version id. */
  def installPending(name: String, donor: String, txnId: String,
      replace: Boolean = false): Long = {
    val d = current(donor)
    require(d.masks.isEmpty,
      s"graft_fs($name): txn donor $donor carries delta masks — staged " +
        "files get a fresh addedVersion, which would escape them")
    val relink = relinkInto(name, dataDir(donor).toString) _
    var out = -1L
    retryingConcurrent(name) {
      install(name) { v =>
        require(adoptCompatible(v.schema, d.schema),
          s"graft_fs($name): txn donor schema ${d.schema.simpleString} " +
            s"does not match table schema ${v.schema.simpleString}")
        out = v.id + 1
        withFiles(v, d.files.map(f => f.copy(path = relink(f.path),
          bloom = f.bloom.map(relink))), replace)
          .copy(txnId = Some(txnId))
      }
    }
    out
  }

  /** CLONE: an independent table sharing the source's data bytes —
    * every RETAINED manifest is copied (ids, history, time travel and
    * CDF intact) with data files and sidecars HARD-LINKED into the
    * clone's own dir and paths rewritten. Unlike Delta's shallow clone
    * (path-sharing, broken by a source VACUUM), links keep the bytes
    * alive per-table: either side may vacuum, expire, or drop freely.
    * O(files) metadata work, zero data copied. */
  def cloneTable(src: String, dst: String): Long = {
    require(!exists(dst), s"graft_fs($dst): table already exists")
    require(!dst.contains(WapSep), s"graft_fs($dst): reserved name")
    val relink = relinkInto(dst, dataDir(src).toString) _
    def relinkRef(f: FileRef): FileRef =
      f.copy(path = relink(f.path), bloom = f.bloom.map(relink))
    def relinkMasks(ms: Vector[DeltaMask]): Vector[DeltaMask] =
      ms.map(m => m.copy(keyFiles = m.keyFiles.map(relinkRef)))
    Files.createDirectories(logDir(dst))
    // the partition spec is table-level metadata — the clone keeps it
    val srcSpec = tableDir(src).resolve("_part.json")
    if (Files.exists(srcSpec))
      Files.copy(srcSpec, tableDir(dst).resolve("_part.json")): Unit
    val head = currentVersion(src)
    (oldestVersion(src) to head).foreach { vid =>
      val v = versionAt(src, vid)
      // strip the source's txn stamp: a clone's versions are committed
      // by construction (versionAt only serves visible ones) — keeping
      // the stamp would tie the clone's readability forever to the
      // SOURCE's _txn/<id>.committed marker file (marker expiry or a
      // relocated clone would brick it)
      writeManifest(dst, v.copy(
        files = v.files.map(relinkRef),
        masks = relinkMasks(v.masks),
        changes = v.changes.map(c => c.copy(
          files = c.files.map(relinkRef),
          masks = relinkMasks(c.masks),
          keys = c.keys.map(relinkRef))),
        txnId = None))
    }
    head
  }

  /** RESTORE `name` to retained version `toVersion` (Delta RESTORE):
    * a NEW head whose snapshot is the old version's — history moves
    * forward, nothing is rewritten, and the change log records the
    * rollback as delete-current + insert-restored so CDF consumers
    * (incremental views included) see it as ordinary changes. */
  def restore(name: String, toVersion: Long): Long = {
    val target = versionAt(name, toVersion) // expired/unknown → loud
    var out = -1L
    install(name) { v =>
      require(toVersion < v.id,
        s"graft_fs($name): restore target $toVersion is not before head ${v.id}")
      require(target.schema == v.schema,
        s"graft_fs($name): cannot restore across a schema change " +
          s"(version $toVersion was ${target.schema.simpleString}, head " +
          s"is ${v.schema.simpleString})")
      val deleted =
        if (v.rowCount == 0) Vector.empty
        else Vector(Change(OpDelete, v.files, v.masks, Vector.empty, v.rowCount))
      val inserted =
        if (target.rowCount == 0) Vector.empty
        else Vector(Change(OpInsert, target.files, target.masks,
          Vector.empty, target.rowCount))
      out = v.id + 1
      Version(v.id + 1, GraftClock.next(), v.schemaId, v.lineage,
        v.maxFieldId, target.files, target.masks,
        deleted ++ inserted,
        target.rowCount, v.epochs, target.bucketN, v.bloomIds, v.ngramIds)
    }
    out
  }

  // ------------------------------------------------- WAP branches (refs)

  /** Branch-name plumbing: a branch of table T is a SHADOW TABLE named
    * `T__wap_<branch>` whose `_log` starts as a byte-copy of T's
    * retained manifests — so every existing verb (reads, writes, MERGE,
    * CDF, time travel, schema evolution) works on the branch with ZERO
    * new machinery, while data files are SHARED by absolute path (the
    * copy is manifests, never data). This is Iceberg's write-audit-
    * publish reduced to the fast-forward case: stage a risky load on
    * the branch, audit it there, publish atomically or drop it. */
  private val WapSep = "__wap_"
  def branchTableName(name: String, branch: String): String = {
    require(!name.contains(WapSep),
      s"graft_fs($name): cannot branch a branch")
    // first char must be alphanumeric: a leading '_' would let the
    // shadow name collide with the catalog's relation suffixes
    // (`…__wap__files` parses as `…__wap` + `__files`)
    require(branch.nonEmpty && branch.head.isLetterOrDigit &&
      branch.forall(c => c.isLetterOrDigit || c == '_'),
      s"graft_fs($name): bad branch name '$branch'")
    s"$name$WapSep$branch"
  }
  /** Branches of `name` currently on disk (their shadow-table names). */
  def branchesOf(name: String): Seq[String] =
    tableNames.filter(_.startsWith(s"$name$WapSep"))

  /** Create branch `branch` at `name`'s current head: copy every
    * RETAINED manifest (ids preserved, so masks' addedVersion arithmetic
    * and time travel stay valid on the branch). O(manifests), no data
    * copied. */
  def createBranch(name: String, branch: String): String = {
    val shadow = branchTableName(name, branch)
    if (exists(shadow)) throw new IllegalStateException(
      s"graft_fs($name): branch $branch already exists")
    val head = currentVersion(name)
    Files.createDirectories(logDir(shadow))
    (oldestVersion(name) to head).foreach { v =>
      val src = logDir(name).resolve(f"v$v%05d.json")
      Files.copy(src, logDir(shadow).resolve(f"v$v%05d.json")): Unit
    }
    shadow
  }

  /** FAST-FORWARD publish: install every branch commit past the fork
    * point onto main, atomically per version (the same hard-link commit
    * race every writer runs — a concurrent main commit makes the next
    * link fail loudly; already-published prefixes stay valid). Requires
    * main's head to still BE the fork point (no main commits since the
    * branch was cut — the fast-forward contract; a diverged main
    * refuses). Branch-written data files and bloom sidecars are
    * HARD-LINKED into main's data dir and the installed manifests point
    * at the linked paths, so dropping the branch afterwards cannot
    * orphan published data. Returns the number of versions published. */
  def publishBranch(name: String, branch: String): Long = {
    val shadow = branchTableName(name, branch)
    require(exists(shadow), s"graft_fs($name): no branch $branch")
    val mainHead = currentVersion(name)
    val branchHead = currentVersion(shadow)
    // the fork point is the oldest shared id boundary: branch manifests
    // ≤ mainHead must BE main's manifests (byte-copied at cut time); a
    // main commit since then shows up as mainHead > branch's copy of it
    // or as a diverged id — both refuse below
    require(branchHead >= mainHead,
      s"graft_fs($name): branch $branch has no commits past main " +
        s"(branch head $branchHead, main head $mainHead)")
    val forkCheck = versionAt(shadow, mainHead)
    val mainAtFork = versionAt(name, mainHead)
    require(forkCheck == mainAtFork,
      s"graft_fs($name): main diverged from branch $branch since the cut " +
        s"(version $mainHead differs) — fast-forward refused; re-cut the " +
        "branch and replay the load")
    val branchData = dataDir(shadow).toString
    def relink(p: String): String =
      if (!p.startsWith(branchData)) p
      else {
        val target = dataDir(name).resolve(Paths.get(p).getFileName)
        Files.createDirectories(dataDir(name))
        if (!Files.exists(target)) Files.createLink(target, Paths.get(p))
        target.toString
      }
    def relinkRef(f: FileRef): FileRef =
      f.copy(path = relink(f.path), bloom = f.bloom.map(relink))
    def relinkMasks(ms: Vector[DeltaMask]): Vector[DeltaMask] =
      ms.map(m => m.copy(keyFiles = m.keyFiles.map(relinkRef)))
    ((mainHead + 1) to branchHead).foreach { vid =>
      val v = versionAt(shadow, vid)
      writeManifest(name, v.copy(
        files = v.files.map(relinkRef),
        masks = relinkMasks(v.masks),
        changes = v.changes.map(c => c.copy(
          files = c.files.map(relinkRef),
          masks = relinkMasks(c.masks),
          keys = c.keys.map(relinkRef)))))
    }
    branchHead - mainHead
  }

  /** Drop a branch: deletes its manifests AND its data dir (staged
    * files). Safe after [[publishBranch]] — published files were
    * hard-linked into main's data dir. */
  def dropBranch(name: String, branch: String): Unit =
    drop(branchTableName(name, branch))

  /** Metadata-only schema evolution (ADD / RENAME / WIDEN / DROP): a new
    * version with the SAME files and an appended lineage entry. Field
    * ids make DROP + later re-ADD of the same name safe: the re-added
    * column gets a FRESH id, so files carrying the old column cannot
    * resurrect its values (the read mapping is by id, never by name).
    * The base-schema check runs against the head INSIDE the commit
    * (the rename race rejects a concurrent ALTER), closing the
    * lost-update window the mem catalog also guards. */
  def alterSchema(name: String, expectedBase: StructType,
      newSchema: StructType, newMaxFieldId: Int): Unit =
    install(name) { v =>
      require(v.schema == expectedBase,
        s"graft_fs($name): concurrent schema change — ALTER was computed " +
          s"against ${expectedBase.simpleString} but the table is now " +
          s"${v.schema.simpleString}")
      newSchema.fields.foreach(f => require(fieldId(f) >= 0,
        s"graft_fs($name): evolved column ${f.name} lost its field id"))
      Version(v.id + 1, GraftClock.next(), v.lineage.length,
        v.lineage :+ newSchema, newMaxFieldId,
        v.files, v.masks, Vector.empty, v.rowCount, v.epochs, v.bucketN, v.bloomIds, v.ngramIds)
    }
}
