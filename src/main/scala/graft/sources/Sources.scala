package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Source/sink surface — SURVEY.md §2.4 scan/sink tier (`db.read_text`,
  * `bag.to_textfiles`, `bag.to_dataframe`, `db.from_sequence` …) mapped to
  * `spark.read`/`df.write`. Everything is the built-in DataSource V2 path:
  * splittable reads, partitioned writes, predicate/column pushdown for the
  * columnar formats.
  *
  * Scale notes: parquet/orc are the only formats to put 100 TB in — they
  * carry statistics (row-group pruning) and column pruning. text/csv/json
  * are ingest/egress formats; reads of them are still parallel (one task
  * per split) but nothing pushes down.
  */
object Sources {

  // ---- scans ----

  /** `db.read_text` analog — one string row per line. */
  def readText(s: SparkSession, path: String): Dataset[String] = {
    import s.implicits._
    s.read.textFile(path)
  }

  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  def readJson(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  def readParquet(s: SparkSession, path: String): DataFrame = s.read.parquet(path)
  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  /** Binary-file ingest — the entry point for media corpora (the
    * [[graft.operators.Multimodal]]/[[graft.operators.AudioOps]] decode
    * operators consume the `content` column this produces). Built-in
    * `binaryFile` format: one row per file with (path, modificationTime,
    * length, content), splittable LISTING (one task per file, files never
    * concatenated), `pathGlobFilter` for container routing by extension.
    * At 100 TB of media the files are the parallelism unit; decode stays
    * a narrow per-partition transform downstream. */
  def readBinary(s: SparkSession, path: String, glob: Option[String] = None): DataFrame = {
    val r = s.read.format("binaryFile")
    glob.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  // ---- sinks ----

  /** `bag.to_textfiles` analog. */
  def writeText(ds: Dataset[String], path: String): Unit =
    ds.write.mode(SaveMode.Overwrite).text(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  // ---- avro (`db.read_avro` / `bag.to_avro`, reference core.py:64-65) ----
  //
  // The spark-avro DataSource connector is not in this container's
  // /opt/spark/jars, but the core avro + avro-mapred libraries are — so
  // the gateway op is implemented directly on the splittable Hadoop
  // AvroKeyInputFormat/AvroKeyOutputFormat (the same container format and
  // parallelism the connector uses; one task per file split). Supported
  // profile: primitive fields, nullability via the standard
  // union(null, T), and NESTED records / arrays / string-keyed maps /
  // enums / fixed — the full generic-record shapes spark-avro handles.
  // Non-null multi-branch unions (rare in practice) stay unsupported with
  // a clear error. Nested data should still land in parquet at scale
  // (avro is a row-ingest format; nothing pushes down).

  import scala.jdk.CollectionConverters._

  private def avroToSpark(f: org.apache.avro.Schema): (DataType, Boolean) = {
    import org.apache.avro.Schema.Type._
    f.getType match {
      case UNION =>
        val nonNull = f.getTypes.asScala.filter(_.getType != NULL)
        require(nonNull.size == 1, s"only union(null, T) avro unions supported, got $f")
        (avroToSpark(nonNull.head)._1, true)
      case BOOLEAN => (BooleanType, false)
      case INT     => (IntegerType, false)
      case LONG    => (LongType, false)
      case FLOAT   => (FloatType, false)
      case DOUBLE  => (DoubleType, false)
      case STRING  => (StringType, false)
      case BYTES   => (BinaryType, false)
      case ENUM    => (StringType, false)
      case FIXED   => (BinaryType, false)
      case RECORD =>
        (StructType(f.getFields.asScala.map { sub =>
          val (dt, nullable) = avroToSpark(sub.schema())
          StructField(sub.name(), dt, nullable)
        }.toArray), false)
      case ARRAY =>
        val (dt, nullable) = avroToSpark(f.getElementType)
        (ArrayType(dt, containsNull = nullable), false)
      case MAP =>
        val (dt, nullable) = avroToSpark(f.getValueType)
        (MapType(StringType, dt, valueContainsNull = nullable), false)
      case t => throw new UnsupportedOperationException(
        s"avro type $t not supported by the reader")
    }
  }

  /** Recursive avro value → Spark external value (Row/Seq/Map/primitive). */
  private def fromAvro(v: Any): Any = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      val arr = new Array[Byte](b.remaining()); b.duplicate().get(arr); arr
    case r: org.apache.avro.generic.GenericRecord =>
      Row.fromSeq(r.getSchema.getFields.asScala.map(f => fromAvro(r.get(f.pos()))).toSeq)
    case e: org.apache.avro.generic.GenericEnumSymbol[_] => e.toString
    case fx: org.apache.avro.generic.GenericFixed => fx.bytes().clone()
    case a: java.util.Collection[_] => a.asScala.map(fromAvro).toSeq
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, mv) => (fromAvro(k), fromAvro(mv)) }.toMap
    case other => other
  }

  private def sparkToAvroJson(schema: StructType, name: String): String = {
    // nested record names must be unique within an avro schema — derive
    // them from the field path
    def typ(dt: DataType, path: String): String = dt match {
      case BooleanType => "\"boolean\""
      case IntegerType => "\"int\""
      case LongType    => "\"long\""
      case FloatType   => "\"float\""
      case DoubleType  => "\"double\""
      case StringType  => "\"string\""
      case BinaryType  => "\"bytes\""
      case st: StructType => record(st, path)
      case ArrayType(et, containsNull) =>
        val item = if (containsNull) s"""["null", ${typ(et, path + "_item")}]"""
                   else typ(et, path + "_item")
        s"""{"type": "array", "items": $item}"""
      case MapType(StringType, vt, valueNull) =>
        val value = if (valueNull) s"""["null", ${typ(vt, path + "_value")}]"""
                    else typ(vt, path + "_value")
        s"""{"type": "map", "values": $value}"""
      case t => throw new UnsupportedOperationException(
        s"spark type $t not supported by the avro writer")
    }
    def record(st: StructType, recName: String): String = {
      val fields = st.fields.map { f =>
        val t0 = typ(f.dataType, recName + "_" + f.name)
        val t = if (f.nullable) s"""["null", $t0]""" else t0
        s"""{"name": "${f.name}", "type": $t}"""
      }.mkString(",")
      s"""{"type": "record", "name": "$recName", "fields": [$fields]}"""
    }
    record(schema, name)
  }

  /** Recursive Spark external value → avro generic value for `schema`
    * (union-resolved). */
  private def toAvro(v: Any, schema: org.apache.avro.Schema): Any = {
    import org.apache.avro.Schema.Type._
    if (v == null) return null
    val s = if (schema.getType == UNION)
      schema.getTypes.asScala.find(_.getType != NULL).get else schema
    s.getType match {
      case RECORD =>
        val row = v.asInstanceOf[Row]
        val rec = new org.apache.avro.generic.GenericData.Record(s)
        s.getFields.asScala.foreach { f =>
          rec.put(f.pos(), toAvro(row.get(f.pos()), f.schema()))
        }
        rec
      case ARRAY =>
        val out = new java.util.ArrayList[Any]()
        v.asInstanceOf[scala.collection.Seq[Any]]
          .foreach(e => out.add(toAvro(e, s.getElementType)))
        out
      case MAP =>
        val out = new java.util.HashMap[String, Any]()
        v.asInstanceOf[scala.collection.Map[String, Any]]
          .foreach { case (k, mv) => out.put(k, toAvro(mv, s.getValueType)) }
        out
      case BYTES => java.nio.ByteBuffer.wrap(v.asInstanceOf[Array[Byte]])
      case _ => v
    }
  }

  /** `db.read_avro` analog: schema inferred from the first file's header
    * (avro is self-describing), then a splittable parallel read. */
  def readAvro(s: SparkSession, path: String): DataFrame = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.AvroKeyInputFormat
    import org.apache.hadoop.io.NullWritable
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}

    // driver-side: sniff the writer schema from one container header
    val conf = s.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new HPath(path).toUri, conf)
    val first = fs.listStatus(new HPath(path)).iterator
      .map(_.getPath).filter(_.getName.endsWith(".avro")).toSeq.sortBy(_.getName)
      .headOption.getOrElse(throw new java.io.FileNotFoundException(s"no .avro files under $path"))
    val in = fs.open(first)
    val avroSchema = try {
      new org.apache.avro.file.DataFileStream(in,
        new org.apache.avro.generic.GenericDatumReader[GenericRecord]()).getSchema
    } finally in.close()
    val sparkSchema = StructType(avroSchema.getFields.asScala.map { f =>
      val (dt, nullable) = avroToSpark(f.schema())
      StructField(f.name(), dt, nullable)
    }.toArray)
    val names = sparkSchema.fields.map(_.name)

    // pin the reader to the generic data model too — the default
    // ReflectData tries to Class.forName nested record names and NPEs
    val readConf = new org.apache.hadoop.conf.Configuration(conf)
    org.apache.avro.hadoop.io.AvroSerialization.setDataModelClass(
      readConf, classOf[org.apache.avro.generic.GenericData])
    val rows = s.sparkContext.newAPIHadoopFile(
        path, classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable], readConf)
      .map { case (k, _) =>
        val rec = k.datum()
        Row.fromSeq(names.map(n => fromAvro(rec.get(n))).toSeq)
      }
    s.createDataFrame(rows, sparkSchema)
  }

  /** `bag.to_avro` analog: one avro container file per partition. */
  def writeAvro(df: DataFrame, path: String): Unit = {
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable

    val schemaJson = sparkToAvroJson(df.schema, "graft_record")
    val spark = df.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new org.apache.hadoop.fs.Path(path).toUri, spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true) // SaveMode.Overwrite parity

    val job = org.apache.hadoop.mapreduce.Job.getInstance(spark.sparkContext.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new org.apache.avro.Schema.Parser().parse(schemaJson))
    // the default data model is ReflectData, which tries to Class.forName
    // nested record names (none exist for generic rows) and NPEs — pin the
    // writer to the generic model
    AvroJob.setDataModelClass(job, classOf[org.apache.avro.generic.GenericData])
    df.rdd.mapPartitions { it =>
        // avro Schema is not serializable across all versions: parse per task
        val schema = new org.apache.avro.Schema.Parser().parse(schemaJson)
        it.map { row =>
          (new AvroKey[GenericRecord](
            toAvro(row, schema).asInstanceOf[GenericRecord]), NullWritable.get())
        }
      }
      .saveAsNewAPIHadoopFile(path, classOf[AvroKey[GenericRecord]],
        classOf[NullWritable], classOf[AvroKeyOutputFormat[GenericRecord]],
        job.getConfiguration)
  }
}
