package graft.functions.expr

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Exact distinct count as ONE per-group aggregate: `count(DISTINCT x)`
  * without Catalyst's distinct planning. Catalyst rewrites every distinct
  * aggregate into an Expand that copies each input row once per distinct
  * column plus once for the regular aggregates (the 38-KPI table has five
  * distinct counts: each packet is copied six times through all of its
  * exact-decimal sums). This aggregate keeps a hash set of the group's
  * values instead, so the KPI table stays one map-side-combined pass.
  *
  * Semantics equal `count(DISTINCT x)` on every input: nulls are ignored,
  * `-0.0` and `0.0` are one value, and all NaNs are one value (Spark's own
  * float normalization of grouping keys). Integral, date/time and
  * floating inputs are keyed as a `long` (floats by their canonical bits);
  * strings by their binary UTF-8 bytes.
  *
  * Exact, so the set is O(distinct values per group) — the same memory the
  * Expand route's distinct-keyed buffers hold, without the row copies.
  * Merge is set union: commutative and associative, so the result is
  * independent of partitioning. The 100 TB variant of an unbounded
  * distinct domain is `approx_count_distinct`.
  */
case class ExactDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashSet[AnyRef]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "exact_count_distinct"

  @transient private lazy val isString: Boolean = child.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType | BooleanType | ByteType | ShortType | IntegerType | LongType |
         DateType | TimestampType | TimestampNTZType | FloatType | DoubleType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"exact_count_distinct expects a string, integral, date/time or floating input, got ${t.sql}")
  }

  /** The set key of one non-null input value, resolved once per type. */
  @transient private lazy val key: Any => AnyRef = child.dataType match {
    // clone: the UTF8String points into a reused row buffer.
    case StringType => v => v.asInstanceOf[UTF8String].clone()
    case BooleanType => v => java.lang.Long.valueOf(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case ByteType => v => java.lang.Long.valueOf(v.asInstanceOf[Byte].toLong)
    case ShortType => v => java.lang.Long.valueOf(v.asInstanceOf[Short].toLong)
    case IntegerType | DateType => v => java.lang.Long.valueOf(v.asInstanceOf[Int].toLong)
    // floatToIntBits/doubleToLongBits collapse every NaN to one pattern;
    // the == 0 test folds -0.0 into 0.0.
    case FloatType => v =>
      val f = v.asInstanceOf[Float]
      java.lang.Long.valueOf(if (f == 0.0f) 0L else java.lang.Float.floatToIntBits(f).toLong)
    case DoubleType => v =>
      val d = v.asInstanceOf[Double]
      java.lang.Long.valueOf(if (d == 0.0) 0L else java.lang.Double.doubleToLongBits(d))
    case _ => v => java.lang.Long.valueOf(v.asInstanceOf[Long])
  }

  override def createAggregationBuffer(): java.util.HashSet[AnyRef] =
    new java.util.HashSet[AnyRef]()

  override def update(buf: java.util.HashSet[AnyRef], input: InternalRow): java.util.HashSet[AnyRef] = {
    val v = child.eval(input)
    if (v != null) buf.add(key(v))
    buf
  }

  override def merge(buf: java.util.HashSet[AnyRef], other: java.util.HashSet[AnyRef]): java.util.HashSet[AnyRef] = {
    buf.addAll(other)
    buf
  }

  override def eval(buf: java.util.HashSet[AnyRef]): Any = buf.size.toLong

  override def serialize(buf: java.util.HashSet[AnyRef]): Array[Byte] =
    if (isString) {
      var bytes = 4
      buf.forEach(s => bytes += 4 + s.asInstanceOf[UTF8String].numBytes)
      val bb = ByteBuffer.allocate(bytes)
      bb.putInt(buf.size)
      buf.forEach { s =>
        val b = s.asInstanceOf[UTF8String].getBytes
        bb.putInt(b.length).put(b)
        ()
      }
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(4 + 8 * buf.size)
      bb.putInt(buf.size)
      buf.forEach(h => { bb.putLong(h.asInstanceOf[java.lang.Long].longValue); () })
      bb.array()
    }

  override def deserialize(bytes: Array[Byte]): java.util.HashSet[AnyRef] = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new java.util.HashSet[AnyRef](math.max(16, n * 2))
    var i = 0
    while (i < n) {
      if (isString) {
        val b = new Array[Byte](bb.getInt)
        bb.get(b)
        buf.add(UTF8String.fromBytes(b))
      } else buf.add(java.lang.Long.valueOf(bb.getLong))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ExactDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ExactDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ExactDistinct =
    copy(child = newChildren(0))
}
