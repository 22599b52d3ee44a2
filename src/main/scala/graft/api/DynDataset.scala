package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.language.dynamics

/** Dynamic (schema'd) object collection — the reference's
  * attribute-projection surface (`objs.foo`, `objs["k"]`,
  * /root/reference/src/dask_obj/core.py:62-69) lowered onto a `DataFrame`
  * so every access is a Catalyst column projection (pruned, pushed down,
  * codegen'd) instead of a per-row Python attrgetter.
  *
  * `dyn.foo` (Scala `Dynamic`) ≡ reference `objs.foo`;
  * `dyn("k")`              ≡ reference `objs[k]` (bag.pluck);
  * nested struct access chains the same way (`col("a.b")`).
  *
  * A single-column DynDataset supports the reference's 35 elementwise
  * operator dunders (core.py:187-220) via [[ColOps]] on its `column`.
  */
final class DynDataset(val df: DataFrame, val focus: Option[Column]) extends Dynamic {

  /** `objs.name` — project an attribute/field. */
  def selectDynamic(name: String): DynDataset =
    new DynDataset(df, Some(focus.fold(col(name))(c => c.getField(name))))

  /** `objs[k]` — item projection (array index / map key / struct field). */
  def apply(key: Any): DynDataset =
    new DynDataset(df, Some(focus.fold(col(key.toString))(c => c.getItem(key))))

  /** `dyn.xs(0)` — attribute projection followed by item access (Scala
    * desugars the chain to applyDynamic). */
  def applyDynamic(name: String)(args: Any*): DynDataset =
    args.foldLeft(selectDynamic(name))((d, k) => d.apply(k))

  /** The focused column (whole row struct if unfocused). */
  def column: Column = focus.getOrElse(struct(df.columns.map(col): _*))

  /** Materialize the focused projection as a DataFrame. */
  def toDF: DataFrame = focus.fold(df)(c => df.select(c))

  /** Elementwise operator application, returning a new focused collection —
    * the dunder-table analog: `dyn.x + 1`, `dyn.x === dyn.y`, … composed
    * via Column ops on `column`. */
  def mapCol(f: Column => Column): DynDataset =
    new DynDataset(df, Some(f(column)))

  // the 35-dunder table directly on the focused column (core.py:187-220);
  // a DynDataset rhs must share this frame (its focused column composes)
  private def rhs(o: Any): Column = o match {
    case d: DynDataset => d.column
    case c: Column     => c
    case x             => lit(x)
  }
  def +(o: Any): DynDataset  = mapCol(_ + rhs(o))
  def -(o: Any): DynDataset  = mapCol(_ - rhs(o))
  def *(o: Any): DynDataset  = mapCol(_ * rhs(o))
  def /(o: Any): DynDataset  = mapCol(_ / rhs(o))
  def %(o: Any): DynDataset  = mapCol(_ % rhs(o))
  def <(o: Any): DynDataset  = mapCol(_ < rhs(o))
  def <=(o: Any): DynDataset = mapCol(_ <= rhs(o))
  def >(o: Any): DynDataset  = mapCol(_ > rhs(o))
  def >=(o: Any): DynDataset = mapCol(_ >= rhs(o))
  def ===(o: Any): DynDataset = mapCol(_ === rhs(o))
  def =!=(o: Any): DynDataset = mapCol(_ =!= rhs(o))
  def &&(o: Any): DynDataset = mapCol(_ && rhs(o))
  def ||(o: Any): DynDataset = mapCol(_ || rhs(o))
  def unary_- : DynDataset   = mapCol(c => negate(c))
  def unary_! : DynDataset   = mapCol(c => !c)

  def compute(): Seq[Any] = toDF.collect().toSeq.map(r => if (r.size == 1) r.get(0) else r)

  override def toString: String = s"DynDataset(${df.schema.simpleString}, focus=$focus)"
}

object DynDataset {
  def apply(df: DataFrame): DynDataset = new DynDataset(df, None)

  /** Truly heterogeneous ingest — the literal letter of the reference's
    * data model (`core.py:43`: the collection wraps ARBITRARY mixed
    * objects; `db.from_sequence`, `core.py:57`, takes them schema-less).
    * Spark needs a schema, so mixed items are lowered onto a UNION
    * variant-struct: every case-class field / Map key observed across the
    * items becomes a nullable column (null-padded where an item lacks
    * it), bare primitives land in a `value` column, and nested
    * case-classes / Maps / Seqs recurse the same way. Conflicting
    * per-field types widen (integral → long, numeric mix → double,
    * anything else → string) — the reference's dynamic typing expressed
    * as the loosest common Spark type, so attr projection (`dyn.name`),
    * the operator dunders and counts/frequencies all work over the mixed
    * collection exactly as they do over a typed one.
    *
    * Scale note: inference walks the DRIVER-side seq (from_sequence is a
    * driver-side constructor in the reference too); the rows are then
    * encoded and sliced as [[ObjDataset.apply]] does it, so the resulting
    * frame is a normal distributed DataFrame. For a 100 TB variant corpus the
    * same union-schema shape comes from the storage layer (e.g. parquet
    * mergeSchema), not from this entry point. */
  def fromAny(s: SparkSession, items: Seq[Any]): DynDataset = {
    val schema = items.map(i => structOf(fieldsOf(i)))
      .foldLeft(new StructType())((a, b) => unify(a, b).asInstanceOf[StructType])
    val rows = items.map(i => toRow(fieldsOf(i), schema))
    new DynDataset(ObjDataset.encoded(s, rows, None)(Encoders.row(schema)), None)
  }

  /** An item's (name, value) fields: case-class fields by name, Map
    * entries by key, anything else as the single `value` field. */
  private def fieldsOf(item: Any): Seq[(String, Any)] = item match {
    case null | None         => Seq.empty
    case Some(x)             => fieldsOf(x)
    case m: collection.Map[_, _] => m.toSeq.map { case (k, v) => (k.toString, v) }
    case p: Product if p.productArity > 0 =>
      p.productElementNames.toSeq.zip(p.productIterator.toSeq)
    case other               => Seq("value" -> other)
  }

  private def structOf(fields: Seq[(String, Any)]): StructType =
    StructType(fields.map { case (n, v) => StructField(n, typeOf(v), nullable = true) })

  private def typeOf(v: Any): DataType = v match {
    case null | None => NullType
    case Some(x)     => typeOf(x)
    case _: Int | _: Long | _: Short | _: Byte => LongType
    case _: Double | _: Float                  => DoubleType
    case _: Boolean                            => BooleanType
    case _: String | _: Char                   => StringType
    case _: Array[Byte]                        => BinaryType
    case xs: collection.Seq[_] =>
      ArrayType(xs.map(typeOf).foldLeft(NullType: DataType)(unify), containsNull = true)
    case m: collection.Map[_, _] => structOf(fieldsOf(m))
    case p: Product              => structOf(fieldsOf(p))
    case _                       => StringType // opaque object: stringified
  }

  /** Loosest common type of two observed field types. */
  private def unify(a: DataType, b: DataType): DataType = (a, b) match {
    case (NullType, x) => x
    case (x, NullType) => x
    case (x, y) if x == y => x
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (sa: StructType, sb: StructType) =>
      // union of fields, first-seen order, same-name types unified
      val bByName = sb.fields.map(f => f.name -> f.dataType).toMap
      val merged = sa.fields.map(f =>
        StructField(f.name, unify(f.dataType, bByName.getOrElse(f.name, NullType)), nullable = true))
      val extra = sb.fields.filterNot(f => sa.fieldNames.contains(f.name))
        .map(f => StructField(f.name, f.dataType, nullable = true))
      StructType(merged ++ extra)
    case (ArrayType(ea, _), ArrayType(eb, _)) => ArrayType(unify(ea, eb), containsNull = true)
    case _ => StringType
  }

  private def toRow(fields: Seq[(String, Any)], schema: StructType): Row = {
    val byName = fields.toMap
    Row(schema.fields.toSeq.map(f => convert(byName.getOrElse(f.name, null), f.dataType)): _*)
  }

  private def convert(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) | (None, _) => null
    case (Some(x), _)          => convert(x, dt)
    case (x: Int, LongType)    => x.toLong
    case (x: Short, LongType)  => x.toLong
    case (x: Byte, LongType)   => x.toLong
    case (x: Long, LongType)   => x
    case (x: Float, DoubleType)  => x.toDouble
    case (x: Double, DoubleType) => x
    case (x: Int, DoubleType)    => x.toDouble
    case (x: Long, DoubleType)   => x.toDouble
    case (x: Short, DoubleType)  => x.toDouble
    case (x: Byte, DoubleType)   => x.toDouble
    case (x: Boolean, BooleanType) => x
    case (x: Array[Byte], BinaryType) => x
    case (xs: collection.Seq[_], ArrayType(et, _)) => xs.map(convert(_, et))
    case (x, st: StructType)   => toRow(fieldsOf(x), st)
    case (x, StringType)       => x.toString
    case (x, _)                => x.toString // widened-to-string conflict
  }
}
