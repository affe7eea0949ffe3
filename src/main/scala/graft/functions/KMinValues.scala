package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `kmin_values(h, k)` — the k SMALLEST distinct longs per group, sorted
  * ascending: the KMV distinct sketch ([[graft.text.TextOps.kmvDistinct]])
  * as a NATIVE aggregation state instead of a distinct + rank-window
  * plan.
  *
  * Why it matters at 100 TB: the window formulation must first shuffle
  * the full distinct (group, hash) stream and then sort each group — the
  * distinct table is cardinality-sized. This aggregate dedups and
  * truncates INSIDE the partial pass, so what ships per group per
  * partition is at most k longs, independent of cardinality: the same
  * bounded-partial-state argument as [[BoundedDistinct]] (its long-typed,
  * sketch-purposed sibling on the TypedImperativeAggregate rung).
  *
  * Determinism: membership is a set property of the input values; merge
  * order cannot change the k smallest. The emitted array is sorted, so
  * the result is bit-identical under any partitioning — and equal to the
  * window formulation, which KMinAggSpec pins.
  */
case class KMinValues(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]] {

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "kmin_values"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"kmin_values requires BIGINT input, got ${child.dataType.catalogString}")
    else if (!kExpr.foldable || kExpr.dataType != IntegerType ||
        kExpr.eval() == null) // null check before eval-narrow: a foldable
                              // NULL literal must fail typecheck, not NPE
      TypeCheckResult.TypeCheckFailure("k must be a non-null INTEGER literal")
    else if (kExpr.eval().asInstanceOf[Number].intValue() <= 0)
      TypeCheckResult.TypeCheckFailure("k must be positive")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      // reject without touching the set when h can't enter a full buffer
      if (buf.size < k || h < buf.last()) {
        buf.add(h)
        if (buf.size > k) buf.pollLast()
      }
    }
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) {
      b1.add(it.next())
      if (b1.size > k) b1.pollLast()
    }
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val arr = new Array[Any](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { arr(i) = it.next().longValue(); i += 1 }
    new GenericArrayData(arr)
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    val it = buf.iterator()
    while (it.hasNext) out.writeLong(it.next().longValue())
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val buf = new java.util.TreeSet[java.lang.Long]()
    val n = in.readInt()
    var i = 0
    while (i < n) { buf.add(in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KMinValues =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KMinValues =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KMinValues =
    copy(child = newChildren(0), kExpr = newChildren(1))
}

object KMinValues {
  val info = new ExpressionInfo(classOf[KMinValues].getName, "kmin_values")
}
