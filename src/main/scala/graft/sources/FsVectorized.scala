package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** VECTORIZED read path for the fs store's parquet data files — the scan
  * every 100 TB story actually runs through. Instead of materializing
  * one `Group` object per row through the example API ([[FsParquet.read]],
  * kept for the masked/CDF/sliced paths), this routes each file through
  * Spark's own [[VectorizedParquetRecordReader]]: parquet pages decode
  * straight into `OnHeapColumnVector`s and rows leave the scan as
  * `ColumnarBatch`es, which `BatchScanExec` hands to whole-stage codegen
  * via `ColumnarToRow` — the same machinery (and constant factor) as
  * Spark's built-in parquet source.
  *
  * SCHEMA EVOLUTION composes with vectorization by computing a PER-FILE
  * requested schema: each scan column is mapped to the file's column
  * NAME by graft field id ([[FsStore.fieldId]]), keeping the SCAN's data
  * type — the reader's updaters widen INT32→BIGINT / FLOAT→DOUBLE in the
  * vector fill (Spark's parquet type-widening path), a RENAME resolves
  * to the file-era name, and an id absent from the file maps to a name
  * no file carries, which the reader null-fills. A DROP + re-ADD of the
  * same name therefore cannot resurrect dropped values: the re-added
  * field's fresh id maps to the missing-column name, never to the file's
  * stale column (FsTableSpec pins it).
  *
  * Only PLAIN snapshot scans take this path (no delta masks, no CDF
  * decoration, no key filters, no slicing): those need per-row key
  * logic and stay on the row reader. [[FsScan]] decides per scan —
  * Spark requires all partitions of one scan to agree on columnar. */
object FsVectorized {
  /** Rows per ColumnarBatch (Spark's own default batch capacity). */
  val Capacity = 4096

  /** A zero-copy SELECTION view over a decoded vector: row `i` of the
    * view is row `sel(i)` of the base. The merge-on-read columnar path
    * applies delete/update masks BATCH-level with it — survivors stay
    * in the reader-owned vectors, no re-encode, no per-row
    * materialization (the base vectors are closed by the parquet
    * reader; this view's close is a no-op). Nested structs never reach
    * here ([[FsParquet.supportedType]] refuses them at CREATE); arrays
    * delegate through `getArray`, which carries its own offsets. */
  final class SelectedVector(base: org.apache.spark.sql.vectorized.ColumnVector,
      sel: Array[Int])
      extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType) {
    override def close(): Unit = ()
    override def hasNull: Boolean = base.hasNull
    // an upper bound (selection may have dropped the null rows) — the
    // read path only branches on it, never counts by it
    override def numNulls: Int = base.numNulls
    override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
    override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
    override def getByte(i: Int): Byte = base.getByte(sel(i))
    override def getShort(i: Int): Short = base.getShort(sel(i))
    override def getInt(i: Int): Int = base.getInt(sel(i))
    override def getLong(i: Int): Long = base.getLong(sel(i))
    override def getFloat(i: Int): Float = base.getFloat(sel(i))
    override def getDouble(i: Int): Double = base.getDouble(sel(i))
    override def getArray(i: Int): org.apache.spark.sql.vectorized.ColumnarArray =
      base.getArray(sel(i))
    override def getMap(i: Int): org.apache.spark.sql.vectorized.ColumnarMap =
      base.getMap(sel(i))
    override def getDecimal(i: Int, p: Int, s: Int): org.apache.spark.sql.types.Decimal =
      base.getDecimal(sel(i), p, s)
    override def getUTF8String(i: Int): org.apache.spark.unsafe.types.UTF8String =
      base.getUTF8String(sel(i))
    override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
    // struct members select through: a child vector shares the parent's
    // row space, so the same selection view applies (getStruct/getMap on
    // the batch row resolve through getChild)
    override def getChild(ordinal: Int): org.apache.spark.sql.vectorized.ColumnVector =
      new SelectedVector(base.getChild(ordinal), sel)
  }

  /** In-process row-reader toggle: the specs assert row ≡ columnar
    * equivalence across masks with it (the row reader is the reference). */
  @volatile var forceRowReader: Boolean = false

  def enabled: Boolean = !forceRowReader

  /** The file-shaped requested schema: scan columns renamed to their
    * file-era names by field id; ids the file lacks get a reserved name
    * (`__graft_missing_<i>`) guaranteed absent → null-filled vectors.
    * RECURSIVE through nested structs: a renamed nested field resolves
    * to its file-era name, an added one null-fills — the same contract
    * at every depth (leaf scan types kept, so the reader's updaters
    * still widen INT32→BIGINT / FLOAT→DOUBLE inside structs). */
  def requestedSchema(fileSchema: StructType, scanSchema: StructType): StructType = {
    val byId = fileSchema.fields.map(f => FsStore.fieldId(f) -> f).toMap
    StructType(scanSchema.fields.zipWithIndex.map { case (sf, i) =>
      byId.get(FsStore.fieldId(sf)) match {
        case Some(ff) => (ff.dataType, sf.dataType) match {
          case (fs: StructType, ss: StructType) =>
            StructField(ff.name, requestedSchema(fs, ss), nullable = true)
          case _ => StructField(ff.name, sf.dataType, nullable = true)
        }
        case None => StructField(s"__graft_missing_$i", sf.dataType, nullable = true)
      }
    })
  }

  /** The conf `SpecificParquetRecordReaderBase.initialize` +
    * `ParquetToSparkSchemaConverter` read — the keys
    * `ParquetFileFormat.buildReaderWithPartitionValues` normally injects
    * (several are `conf.get(key).toBoolean`: absent = NPE, so every one
    * is explicit), with Spark's modern defaults. */
  private def readConf(requested: StructType): Configuration = {
    val c = new Configuration()
    // raw local FS without the cross-instance cache — mirrors the write
    // side (FsParquet.hadoopConf): no .crc sidecars, override applies
    c.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    c.set("fs.file.impl.disable.cache", "true")
    c.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    c.set(SQLConf.PARQUET_BINARY_AS_STRING.key, "false")
    c.set(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key, "true")
    c.set(SQLConf.CASE_SENSITIVE.key, "true") // names are exact (we map them)
    c.set(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key, "true")
    c.set(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key, "false")
    // matching is by NAME against the per-file requested schema computed
    // here driver^Wtask-side from the manifest's field ids — parquet-level
    // field-id matching stays off (the files carry no parquet field ids)
    c.set(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key, "false")
    c
  }

  /** Open `path` (written under `fileSchema`) as a batch-returning
    * vectorized reader producing `scanSchema`-shaped ColumnarBatches.
    * `range` restricts the read to the row groups whose byte midpoint
    * falls inside it (parquet-mr's split rule — how one skewed file
    * scans as several tasks); None reads the whole file. Caller
    * iterates `nextBatch()`/`resultBatch()` and MUST `close()`. */
  def open(path: String, fileSchema: StructType, scanSchema: StructType,
      range: Option[(Long, Long)] = None): VectorizedParquetRecordReader = {
    val requested = requestedSchema(fileSchema, scanSchema)
    val conf = readConf(requested)
    val reader = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", /*useOffHeap=*/ false,
      Capacity)
    val (start, len) = range.getOrElse((0L, new java.io.File(path).length()))
    // initialize casts to the mapred FileSplit subclass internally
    val split = new org.apache.hadoop.mapred.FileSplit(
      new org.apache.hadoop.fs.Path(path), start, len, Array.empty[String])
    val attempt = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    try {
      reader.initialize(split, attempt)
      reader.initBatch(new StructType(), InternalRow.empty)
      reader.enableReturningBatches()
      reader
    } catch { case t: Throwable => reader.close(); throw t }
  }
}
