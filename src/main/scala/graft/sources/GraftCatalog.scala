package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchFunctionException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A minimal DSv2 catalog serving [[SynthTable]]s PLUS the `bucket`
  * function their key-grouped layout is declared with — the missing half
  * of storage-partitioned joins. A bare `format(...).load()` relation
  * has no catalog, so Spark cannot resolve the `bucket(n, doc_id)`
  * transform in the scan's reported `KeyGroupedPartitioning` and
  * silently falls back to shuffling; a table loaded THROUGH a catalog
  * that implements [[FunctionCatalog]] resolves it and plans the join
  * exchange-free (the same contract Iceberg/Delta kernels fulfil —
  * cf. Spark's own `functions.UnboundFunction` docs).
  *
  * Register at runtime ([[GraftCatalog.register]]), then
  * `spark.table("graft.synth_<rows>_<parts>")` — the identifier encodes
  * the generator geometry, `_flat` suffix opts out of bucketing.
  */
class GraftCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName = "graft"
  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    // crash recovery on first catalog load (once per process): sweep
    // expired unresolved multi-table txns so a crashed loader's pending
    // manifests stop blocking commits on its tables (FsTxn.recoverOnLoad)
    FsTxn.recoverOnLoad()
  }
  override def name(): String = catalogName

  /** `SHOW TABLES IN graft`: the live `mem_*`/`memd_*` tables. The
    * `synth_*` family is parameter-encoded (an infinite generator
    * namespace, `synth_<rows>_<parts>`), so it cannot be enumerated —
    * the same reason a JDBC catalog doesn't list every possible query
    * pushdown; its tables resolve on load only. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty)
      // TableCatalog contract: an unknown namespace is an ERROR, not an
      // empty listing — `SHOW TABLES IN graft.nosuch` must fail loudly
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        name() +: namespace)
    else (MemStore.tableNames ++ FsStore.tableNames)
      .map(Identifier.of(Array.empty[String], _)).toArray

  /** `synth_<rows>_<parts>` (bucketed), `synth_<rows>_<parts>_flat`, or a
    * writable in-memory `mem_<name>` ([[MemTable]]; `memd_<name>` = the
    * DELTA flavor whose row-level operations plan merge-on-read
    * `WriteDelta` keyed by the first column instead of group rewrites). */
  override def loadTable(ident: Identifier): Table = ident.name() match {
    case GraftCatalog.TablePat(rows, parts, flat) =>
      new SynthTable(rows.toLong, parts.toInt, bucketed = flat == null)
    // `<table>__changes`: the read-only change-data-feed relation of a
    // mem table — per-commit `_change_type`/`_commit_version` rows
    // (Delta's `table_changes`, SQL Server's CDC shadow table). The CDF
    // columns must be on the TABLE schema (analysis resolves columns
    // before any scan exists), hence a relation suffix, not an option.
    case m if m.endsWith("__changes") =>
      val base = m.stripSuffix("__changes")
      if ((base.startsWith("mem_") || base.startsWith("memd_")) && MemStore.exists(base))
        new MemTable(base, delta = base.startsWith("memd_"), changes = true)
      else if ((base.startsWith("fs_") || base.startsWith("fsd_")) && FsStore.exists(base))
        new FsTable(base, delta = base.startsWith("fsd_"), changes = true)
      else throw new NoSuchTableException(ident)
    // `<table>__history` / `<table>__files`: manifest-only metadata
    // inspection relations of an fs table (Iceberg's t$history/t$files) —
    // read-only, zero data files opened
    case m if m.endsWith("__history") || m.endsWith("__files") =>
      val kind = if (m.endsWith("__history")) "history" else "files"
      val base = m.stripSuffix(s"__$kind")
      if ((base.startsWith("fs_") || base.startsWith("fsd_")) && FsStore.exists(base))
        new FsMetaTable(base, kind)
      else throw new NoSuchTableException(ident)
    case m if m.startsWith("memd_") && MemStore.exists(m) =>
      new MemTable(m, delta = true)
    case m if m.startsWith("mem_") && MemStore.exists(m) => new MemTable(m)
    case m if m.startsWith("fsd_") && FsStore.exists(m) =>
      new FsTable(m, delta = true)
    case m if m.startsWith("fs_") && FsStore.exists(m) => new FsTable(m)
    case _ => throw new NoSuchTableException(ident)
  }

  private def isMem(m: String): Boolean =
    m.startsWith("mem_") || m.startsWith("memd_")
  private def isFs(m: String): Boolean =
    m.startsWith("fs_") || m.startsWith("fsd_")

  /** `VERSION AS OF v` time travel on `mem_*` tables: every commit on a
    * [[MemTable]] installs a new immutable (versionId, rows) snapshot
    * ([[MemStore.MaxVersions]] retained), and this hook pins a scan to
    * one of them — Spark routes `SELECT ... VERSION AS OF v` here, the
    * same contract Iceberg/Delta fulfil with snapshot ids. Unknown or
    * expired versions fail at load with the retained range (never a
    * silent remap); the pinned relation refuses writes. */
  override def loadTable(ident: Identifier, version: String): Table =
    ident.name() match {
      case m if isMem(m) && MemStore.exists(m) =>
        val v = try version.toLong catch {
          case _: NumberFormatException => throw new NoSuchTableException(ident)
        }
        MemStore.rowsAt(m, v) // validate at load: expired → range error
        new MemTable(m, Some(v), delta = m.startsWith("memd_"))
      case m if isFs(m) && FsStore.exists(m) =>
        version.toLongOption match {
          case Some(v) =>
            FsStore.versionAt(m, v) // validate at load: unknown → range error
            new FsTable(m, Some(v), delta = m.startsWith("fsd_"))
          case None =>
            // `VERSION AS OF '<branch>'`: Iceberg's branch read — a
            // READ-ONLY pin of the branch's current head (the audit
            // query's surface while a WAP load is staged)
            val shadow = try FsStore.branchTableName(m, version) catch {
              case _: IllegalArgumentException => throw new NoSuchTableException(ident)
            }
            if (!FsStore.exists(shadow)) throw new NoSuchTableException(ident)
            new FsTable(shadow, Some(FsStore.currentVersion(shadow)),
              delta = m.startsWith("fsd_"))
        }
      case _ => throw new NoSuchTableException(ident)
    }

  /** `TIMESTAMP AS OF t` — served when the history was committed under
    * the injectable [[GraftClock]] (deterministic, monotonic commit
    * stamps; the production analog is the store's commit wall clock):
    * the scan pins the NEWEST version whose stamp is ≤ t, exactly the
    * Delta/Iceberg timestamp-travel contract. Tables written without a
    * clock keep the loud refusal — version history stays clock-free by
    * default so the DuckDB oracle is deterministic. Spark hands the
    * timestamp in MICROSECONDS. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val tMs = timestamp / 1000L
    ident.name() match {
      case m if isMem(m) && MemStore.exists(m) =>
        new MemTable(m, Some(MemStore.versionAsOfTimestamp(m, tMs)),
          delta = m.startsWith("memd_"))
      case m if isFs(m) && FsStore.exists(m) =>
        new FsTable(m, Some(FsStore.versionAsOfTimestamp(m, tMs)),
          delta = m.startsWith("fsd_"))
      case _ => throw new NoSuchTableException(ident)
    }
  }

  /** Only `mem_*` tables are creatable — the synth family is generated. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    ident.name() match {
      case m if isMem(m) =>
        require(partitions.isEmpty, "mem tables are unpartitioned")
        require(!m.endsWith("__changes"),
          "the __changes suffix is reserved for the change-data-feed relation")
        MemStore.create(m, schema)
        new MemTable(m, delta = m.startsWith("memd_"))
      case m if isFs(m) =>
        require(!m.endsWith("__changes"),
          "the __changes suffix is reserved for the change-data-feed relation")
        // fs_* tables accept a bucket transform, a composite VALUE-
        // partition spec, or BOTH (the SPJ + pruning fact layout):
        //  - bucket(n, <first column>): the layout FsScan reports as
        //    KeyGroupedPartitioning so two such tables join exchange-free
        //    (storage-partitioned join);
        //  - identity(<col>) / days|hours|months|years(<ts col>) /
        //    truncate(w, <int col>), in any combination and order
        //    (`days(ts), identity(k)` — the date+shard fact layout): the
        //    writer routes rows to one file per (bucket,) partition
        //    TUPLE and the scan prunes conjunctively from pushed windows
        //    before zone maps even look (FsScan.partPruned).
        // fsd_* stays unpartitioned: its delta writers ship key files,
        // which have no partition to land in
        val valueKinds = Set("identity", "days", "hours", "months", "years")
        val BucketPat = """bucket\((\d+),\s*(.+)\)""".r
        val TruncPat = """truncate\((\d+),\s*(.+)\)""".r
        if (partitions.nonEmpty)
          require(!m.startsWith("fsd_"),
            s"graft catalog: $m is a merge-on-read table — " +
              "partitioning lives on the copy-on-write fs_* flavor")
        var bucketN = 0
        val partFields = scala.collection.mutable.ListBuffer[(String, String)]()
        partitions.foreach { t =>
          // the transform case classes are private[sql] — dispatch on
          // the connector-public name()/references()/toString surface
          if (valueKinds.contains(t.name()))
            partFields += ((t.name(),
              t.references()(0).fieldNames.mkString(".")))
          else t.toString match {
            case BucketPat(n, col) =>
              require(bucketN == 0, s"graft catalog: one bucket spec per table")
              require(col.trim.stripPrefix("`").stripSuffix("`") ==
                schema.fields.head.name,
                s"graft catalog: fs tables bucket on the FIRST (row-id) " +
                  s"column ${schema.fields.head.name}, got $col")
              bucketN = n.toInt
            case TruncPat(w, col) =>
              partFields += ((s"truncate:$w",
                col.trim.stripPrefix("`").stripSuffix("`")))
            case other => throw new UnsupportedOperationException(
              s"graft catalog: unsupported fs partition transform $other " +
                "— bucket(n, <first column>), identity, days/hours/" +
                "months/years(<ts>), truncate(w, <int col>), composed " +
                "freely (one bucket max)")
          }
        }
        // TBLPROPERTIES ('blooms'='colA,colB') declares per-file bloom
        // indexes (sidecar files, manifest-referenced) for point-lookup
        // file skipping on scattered columns zone maps can't prune
        val bloomCols = Option(properties.get("blooms")).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        // TBLPROPERTIES ('ngram_blooms'='text') declares per-file byte
        // 3-GRAM blooms on string columns — substring-predicate
        // (contains/LIKE '%x%'/prefix/suffix) file skipping, the
        // ClickHouse ngrambf_v1 shape value blooms can't answer
        val ngramCols = Option(properties.get("ngram_blooms")).toSeq
          .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
        FsStore.create(m, schema, bucketN, bloomCols, ngramCols,
          partFields.toList)
        new FsTable(m, delta = m.startsWith("fsd_"))
      case other =>
        throw new UnsupportedOperationException(
          s"cannot create $other: only mem_*/memd_*/fs_*/fsd_* tables are writable")
    }
  /** Schema evolution on `mem_*`/`memd_*` tables — metadata-only, the
    * Iceberg contract: ALTER installs a new VERSION carrying the new
    * schema and the SAME rows ([[MemStore.alterSchema]]); existing rows
    * are never rewritten (readers back-fill NULL for columns added
    * after a row was written), and `VERSION AS OF` a pre-ALTER version
    * keeps the old schema — version-consistent reads across the change.
    * Only the two shapes representable without a data rewrite are
    * accepted: RENAME COLUMN and ADD (nullable) COLUMN at the end;
    * drop/reorder/type-change/non-null-add are refused loudly. Type
    * WIDENING and DROP live on the FILE-BACKED table ([[alterFsTable]]):
    * they need per-file schemas + field ids, which the fs manifest has
    * and the mem store's untyped `InternalRow` vectors structurally do
    * not (a widened INT slot re-read as LONG is byte-level corruption
    * without per-row era tags — the fs lineage is that tag, per file). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val name = ident.name()
    if (isFs(name) && FsStore.exists(name)) return alterFsTable(ident, changes)
    if (!(isMem(name) && MemStore.exists(name)))
      throw new NoSuchTableException(ident)
    val base = MemStore.schemaOf(name)
    var schema = base
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          s"graft catalog: nested ADD COLUMN unsupported (${add.fieldNames.mkString(".")})")
        require(add.position() == null,
          "graft catalog: ADD COLUMN appends at the end only (FIRST/AFTER " +
            "would reorder existing rows' columns — a data rewrite)")
        require(add.isNullable,
          "graft catalog: new columns must be nullable — existing rows " +
            "back-fill NULL at read (metadata-only evolution)")
        require(!schema.fieldNames.contains(add.fieldNames()(0)),
          s"graft catalog: column ${add.fieldNames()(0)} already exists")
        schema = schema.add(add.fieldNames()(0), add.dataType(), nullable = true)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"graft catalog: nested RENAME unsupported (${rn.fieldNames.mkString(".")})")
        val i = schema.fieldIndex(rn.fieldNames()(0))
        require(!schema.fieldNames.contains(rn.newName()),
          s"graft catalog: column ${rn.newName()} already exists")
        schema = StructType(schema.fields.updated(i, schema.fields(i).copy(name = rn.newName())))
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other — only RENAME " +
          "COLUMN and ADD COLUMN (nullable, at the end) evolve without a " +
          "data rewrite")
    }
    MemStore.alterSchema(name, base, schema)
    loadTable(ident)
  }

  /** Schema evolution on the FILE-BACKED table — metadata-only with
    * FIELD-ID mapping ([[FsStore]] lineage), which widens the accepted
    * shapes beyond the mem table's ADD/RENAME:
    *  - ADD (nullable) COLUMN at the end — fresh field id;
    *  - RENAME COLUMN — id unchanged, so old files keep serving it;
    *  - ALTER COLUMN TYPE for the SAFE WIDENINGS (INT→BIGINT,
    *    FLOAT→DOUBLE) — metadata-only under Iceberg's rules; readers
    *    upcast old files' values at scan, and `VERSION AS OF` a
    *    pre-widen version still reports the NARROW type (q293);
    *  - DROP COLUMN — removed from the schema; because the read mapping
    *    is by field id, a later re-ADD of the same NAME gets a fresh id
    *    and can never resurrect the dropped values (q299). Dropping the
    *    FIRST column is refused (it is the row-id / merge-on-read mask
    *    key). Narrowings and reorders stay loud refusals. */
  /** Rewrite the struct at `path` (empty = the top level) with `f` —
    * how every evolution verb reaches NESTED struct members: the change
    * applies inside `props` exactly as it would at the top, field ids
    * riding along untouched elsewhere. */
  private def updateStructAt(schema: StructType, path: Seq[String])
      (f: StructType => StructType): StructType =
    if (path.isEmpty) f(schema)
    else {
      val i = schema.fieldIndex(path.head)
      schema.fields(i).dataType match {
        case s: StructType =>
          StructType(schema.fields.updated(i, schema.fields(i)
            .copy(dataType = updateStructAt(s, path.tail)(f))))
        case other => throw new IllegalArgumentException(
          s"graft catalog: ${path.head} is ${other.simpleString}, " +
            "not a struct — nested evolution addresses struct members")
      }
    }

  private def alterFsTable(ident: Identifier, changes: Seq[TableChange]): Table = {
    val name = ident.name()
    val base = FsStore.schemaOf(name)
    var schema = base
    var maxFieldId = FsStore.current(name).maxFieldId
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.position() == null,
          "graft catalog: ADD COLUMN appends at the end only")
        require(add.isNullable,
          "graft catalog: new columns must be nullable — existing files " +
            "back-fill NULL at read (metadata-only evolution)")
        require(FsParquet.supportedType(add.dataType()),
          s"graft catalog: unsupported fs column type ${add.dataType().simpleString}")
        val colName = add.fieldNames().last
        schema = updateStructAt(schema, add.fieldNames().init.toSeq) { st =>
          require(!st.fieldNames.contains(colName),
            s"graft catalog: column ${add.fieldNames().mkString(".")} already exists")
          // a struct-typed ADD stamps ids on ITS nested members too
          val (stamped, newMax) = FsStore.assignFieldIds(
            StructType(Seq(StructField(colName, add.dataType(),
              nullable = true))), maxFieldId + 1)
          maxFieldId = newMax
          StructType(st.fields ++ stamped.fields)
        }
      case rn: TableChange.RenameColumn =>
        val colName = rn.fieldNames().last
        schema = updateStructAt(schema, rn.fieldNames().init.toSeq) { st =>
          val i = st.fieldIndex(colName)
          require(!st.fieldNames.contains(rn.newName()),
            s"graft catalog: column ${rn.newName()} already exists")
          StructType(st.fields.updated(i,
            st.fields(i).copy(name = rn.newName()))) // field id rides along
        }
      case up: TableChange.UpdateColumnType =>
        val colName = up.fieldNames().last
        schema = updateStructAt(schema, up.fieldNames().init.toSeq) { st =>
          val i = st.fieldIndex(colName)
          val old = st.fields(i).dataType
          val widening = (old, up.newDataType()) match {
            case (IntegerType, LongType) => true
            case (FloatType, DoubleType) => true
            case _ => false
          }
          require(widening,
            s"graft catalog: only safe widenings evolve without a data " +
              s"rewrite (INT->BIGINT, FLOAT->DOUBLE); got ${old.simpleString} " +
              s"-> ${up.newDataType().simpleString} for ${up.fieldNames().mkString(".")}")
          StructType(st.fields.updated(i,
            st.fields(i).copy(dataType = up.newDataType())))
        }
      case del: TableChange.DeleteColumn =>
        val colName = del.fieldNames().last
        if (del.fieldNames().length == 1) {
          val i = schema.fieldIndex(colName)
          require(i != 0,
            s"graft catalog: cannot drop the first column (${schema.fields(0).name}) " +
              "— it is the table's row id / merge-on-read mask key")
          require(!FsStore.partSpecOf(name).exists(_._2 ==
            FsStore.fieldId(schema.fields(i))),
            s"graft catalog: cannot drop ${schema.fields(i).name} — it is " +
              s"$name's partition column")
        }
        schema = updateStructAt(schema, del.fieldNames().init.toSeq) { st =>
          val i = st.fieldIndex(colName)
          require(st.length > 1,
            s"graft catalog: cannot drop the last member of a struct " +
              s"(${del.fieldNames().mkString(".")}) — drop the struct column")
          StructType(st.fields.patch(i, Nil, 1))
        }
      case other => throw new UnsupportedOperationException(
        s"graft catalog: unsupported table change $other — fs tables evolve " +
          "via ADD/RENAME/WIDEN(int->bigint,float->double)/DROP only")
    }
    FsStore.alterSchema(name, base, schema, maxFieldId)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val m = ident.name()
    if (isMem(m) && MemStore.exists(m)) { MemStore.drop(m); true }
    else if (isFs(m) && FsStore.exists(m)) { FsStore.drop(m); true }
    else false
  }
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("graft catalog tables cannot be renamed")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name() == "bucket") GraftCatalog.BucketUnbound
    else throw new NoSuchFunctionException(ident)
}

object GraftCatalog {
  /** Registers this catalog as `graft` on `s`. Idempotent, so every
    * query that reads `graft.*` calls it on each run instead of relying
    * on how its session was built (specs and the benchmark harness build
    * their own). */
  def register(s: org.apache.spark.sql.SparkSession): Unit =
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)

  private val TablePat = "synth_([0-9]+)_([0-9]+)(_flat)?".r

  /** `bucket(n, id) = id mod n` — EXACTLY the value each
    * [[SynthBucketPartition]] reports via `HasPartitionKey`, which is
    * the whole correctness contract of SPJ: Spark aligns partitions by
    * these values and never re-checks them. Both join sides resolve the
    * same canonical name, so their partitionings compare compatible. */
  object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String = "bucket(numBuckets, id): id mod numBuckets"
    override def bind(inputType: StructType): BoundFunction = {
      val types = inputType.fields.map(_.dataType)
      require(types.length == 2 && types.contains(IntegerType) &&
        types.contains(LongType), s"bucket expects (int, bigint), got $inputType")
      // transforms may order (col, numBuckets) or (numBuckets, col) —
      // bind to whichever slot carries the int literal
      new BucketBound(nAt = types.indexOf(IntegerType))
    }
  }

  class BucketBound(nAt: Int) extends ScalarFunction[Int] {
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def inputTypes(): Array[DataType] =
      if (nAt == 0) Array(IntegerType, LongType) else Array(LongType, IntegerType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = false
    override def isDeterministic: Boolean = true
    override def produceResult(input: InternalRow): Int =
      Math.floorMod(input.getLong(1 - nAt), input.getInt(nAt).toLong).toInt
  }
}
