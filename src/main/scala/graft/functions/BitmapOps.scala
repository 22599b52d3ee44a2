package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionDescription, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `bitmap_build(key, domain)` + `bitmap_count/and/or` — EXACT distinct
  * counting and set algebra over a BOUNDED integer key domain, as native
  * Catalyst primitives (the ClickHouse `groupBitmap*` / Druid
  * "bitmap index" shape).
  *
  * [[BitmapBuild]] is a [[TypedImperativeAggregate]] whose buffer is a
  * fixed `domain`-bit bitmap (`Array[Long]`, one bit per possible key):
  * `update` sets bit `key`, `merge` is a word-wise OR, and `eval` emits
  * the bitmap as deterministic big-endian BYTES (always exactly
  * `ceil(domain/64)*8` of them, so the binary value — and any hash of
  * it — is independent of partitioning and input order). The scalar
  * companions then give exact set algebra WITHOUT re-touching the fact
  * table: `bitmap_count` (Spark's builtin, which popcounts the same
  * bytes) counts, `bitmap_and`/`bitmap_or`
  * intersect/union — so "users in BOTH segments" is arithmetic over two
  * aggregated values instead of a self-join of the fact table.
  *
  * Scale story: per group the aggregation state is `domain/8` bytes —
  * INDEPENDENT OF ROW COUNT. A `COUNT(DISTINCT key)` shuffles every
  * distinct key per group; the bitmap shuffles a constant-size block
  * and gets full map-side partial aggregation (Spark plans a
  * `COUNT(DISTINCT)` as a two-shuffle Expand; the bitmap is ONE shuffle
  * of fixed-size state). The trade is the bounded domain — right for
  * dictionary-encoded ids (user ids, product ids); for unbounded
  * domains use the HLL registers (q187) when approximate is acceptable,
  * or hash-groupBy distinct when not.
  *
  * Capacity gate (the [[graft.operators.Components]].localThreshold
  * discipline): `domain` must be a literal in [1, 2^26] — at the cap
  * the per-group state is 8 MB, which is already generous for a shuffle
  * row; beyond that a fixed bitmap is the wrong structure (use roaring/
  * run-length bitmaps or HLL). Keys outside `[0, domain)` FAIL LOUDLY
  * (`IllegalArgumentException`), never silently wrap: a dropped or
  * aliased key would be an invisible correctness bug in a dedup count.
  */
@ExpressionDescription(
  usage = "_FUNC_(key, domain) - exact distinct-set bitmap over keys in [0, domain) as binary.")
case class BitmapBuild(
    child: Expression,
    domain: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  private lazy val dom: Long = domain.eval().asInstanceOf[Number].longValue()
  private lazy val words: Int = ((dom + 63) / 64).toInt

  override def checkInputDataTypes(): TypeCheckResult = {
    if (!domain.foldable)
      TypeCheckResult.TypeCheckFailure("bitmap_build: domain must be a literal")
    else if (!Seq[DataType](ByteType, ShortType, IntegerType, LongType)
        .contains(domain.dataType))
      TypeCheckResult.TypeCheckFailure("bitmap_build: domain must be integral")
    else if (domain.eval() == null ||
        domain.eval().asInstanceOf[Number].longValue() < 1 ||
        domain.eval().asInstanceOf[Number].longValue() > BitmapAlg.MaxDomain)
      TypeCheckResult.TypeCheckFailure(
        s"bitmap_build: domain must be in [1, ${BitmapAlg.MaxDomain}]")
    else child.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bitmap_build supports integral keys, got ${other.sql}")
    }
  }

  override def createAggregationBuffer(): Array[Long] = new Array[Long](words)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val x = v.asInstanceOf[Number].longValue()
      if (x < 0L || x >= dom)
        throw new IllegalArgumentException(
          s"bitmap_build: key $x outside domain [0, $dom) — widen the domain " +
            "or pre-filter; silent wrapping would corrupt the distinct count")
      buf((x >>> 6).toInt) |= 1L << (x & 63)
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any = BitmapAlg.toBytes(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = BitmapAlg.toBytes(buf)
  override def deserialize(bytes: Array[Byte]): Array[Long] =
    BitmapAlg.fromBytes(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child, domain)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), domain = newChildren(1))
  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapBuild =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapBuild =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "bitmap_build"
}

/** `bitmap_merge(bm)` — OR-merge of already-built bitmaps, the second
  * aggregation level that makes the bitmap a first-class MERGEABLE
  * summary: build per finest grain once ([[BitmapBuild]]), then roll up
  * any coarser grouping by merging the aggregated values — the exact
  * counterpart of HLL's register max-merge (q275), with exactness paid
  * for by the bounded domain. `GROUPING SETS + COUNT(DISTINCT)` answers
  * the same lattice by EXPANDing the fact scan once per cell class;
  * the bitmap cube touches facts once and rolls up metadata (q277). */
@ExpressionDescription(
  usage = "_FUNC_(bm) - OR-merge of bitmap values (exact distinct-set union).")
case class BitmapMerge(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_merge expects binary bitmaps, got ${other.sql}")
  }

  override def createAggregationBuffer(): Array[Byte] = Array.emptyByteArray

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v == null) buf
    else BitmapAlg.orBytes(buf, v.asInstanceOf[Array[Byte]])
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] =
    BitmapAlg.orBytes(buf, other)

  override def eval(buf: Array[Byte]): Any = buf

  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
  override def withNewMutableAggBufferOffset(newOffset: Int): BitmapMerge =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BitmapMerge =
    copy(inputAggBufferOffset = newOffset)
  override def prettyName: String = "bitmap_merge"
}

/** Byte-level bitmap kernels. Scala object ⇒ static forwarders on the
  * `BitmapAlg` class, so whole-stage codegen calls them directly
  * (`graft.functions.BitmapAlg.andBytes(a, b)`) — the scalar bitmap ops
  * stay inside WholeStageCodegen like any built-in.
  *
  * Length semantics (total, so the ops work across differing domains):
  * AND truncates to the SHORTER input (bits past it are 0 ∧ x = 0);
  * OR zero-extends to the LONGER. Both therefore agree with the
  * infinite-zero-padding model of a bitmap, and `bitmap_count` is
  * length-agnostic. */
object BitmapAlg {
  val MaxDomain: Long = 1L << 26 // 8 MB per group at the cap

  def toBytes(words: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(words.length * 8)
    bb.asLongBuffer().put(words)
    bb.array()
  }

  def fromBytes(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  def countBytes(a: Array[Byte]): Long = {
    val bb = java.nio.ByteBuffer.wrap(a).asLongBuffer()
    var acc = 0L
    var i = 0
    val n = bb.remaining()
    while (i < n) { acc += java.lang.Long.bitCount(bb.get(i)); i += 1 }
    acc
  }

  def positionsArray(a: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val bb = java.nio.ByteBuffer.wrap(a).asLongBuffer()
    val out = Array.newBuilder[Long]
    var w = 0
    val n = bb.remaining()
    while (w < n) {
      var bits = bb.get(w)
      while (bits != 0L) {
        out += w * 64L + java.lang.Long.numberOfTrailingZeros(bits)
        bits &= bits - 1
      }
      w += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.result())
  }

  /** a AND NOT b — the members of `a` absent from `b` (churn). */
  def andNotBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = java.util.Arrays.copyOf(a, a.length)
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) { out(i) = (a(i) & ~b(i)).toByte; i += 1 }
    out
  }

  def andBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (short, long) = if (a.length <= b.length) (a, b) else (b, a)
    val out = new Array[Byte](short.length)
    var i = 0
    while (i < short.length) { out(i) = (short(i) & long(i)).toByte; i += 1 }
    out
  }

  def orBytes(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val (short, long) = if (a.length <= b.length) (a, b) else (b, a)
    val out = java.util.Arrays.copyOf(long, long.length)
    var i = 0
    while (i < short.length) { out(i) = (short(i) | long(i)).toByte; i += 1 }
    out
  }
}

/** The set-bit positions of a bitmap, ascending — turns the bitmap
  * algebra from counts into MEMBERS: `explode(bitmap_positions(
  * bitmap_and(a, bitmap_not_in...)))` answers "WHICH keys churned", not
  * just how many, still without re-touching the fact table. Output is
  * bounded by the population count, not the domain. */
case class BitmapPositions(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bitmap_positions expects binary, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(a: Any): Any =
    BitmapAlg.positionsArray(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.BitmapAlg.positionsArray($a)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "bitmap_positions"
}

abstract class BitmapBinaryAlg extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (binary, binary), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = BinaryType
}

/** a AND NOT b — set difference (the churn direction). */
case class BitmapAndNot(left: Expression, right: Expression) extends BitmapBinaryAlg {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapAlg.andNotBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapAlg.andNotBytes($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bitmap_and_not"
}

/** Word-wise intersection of two bitmaps. */
case class BitmapAnd(left: Expression, right: Expression) extends BitmapBinaryAlg {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapAlg.andBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapAlg.andBytes($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bitmap_and"
}

/** Word-wise union of two bitmaps. */
case class BitmapOr(left: Expression, right: Expression) extends BitmapBinaryAlg {
  override protected def nullSafeEval(a: Any, b: Any): Any =
    BitmapAlg.orBytes(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.BitmapAlg.orBytes($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "bitmap_or"
}
